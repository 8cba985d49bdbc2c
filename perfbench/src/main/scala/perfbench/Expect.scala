package perfbench

import java.nio.file.{Files, Paths}

/** Builds the expected-output table.
  *
  *   Expect <data-root> <out-dir> <sf>[,<sf>...]
  *
  * For every gate a workload runs at each scale: writes the gate's output
  * as parquet under <out-dir>/<sf>/<gate> plus <out-dir>/<sf>/oracle_sql.json
  * (the input of tools/check_oracle.py), and appends "sf gate hash rows" to
  * <out-dir>/hashes.tsv. Only rows whose gate passes the oracle at that scale
  * belong in expected.tsv. */
object Expect {
  def main(args: Array[String]): Unit = {
    val Array(dataRoot, outDir, sfs) = args
    val spark = Gates.session(4)
    // each workload's gates at its timed and warm-up scales, and every gate
    // at the test scale
    def gatesAt(sf: String): Seq[String] = Gates.workloads.values.toSeq
      .filter(w => Set(w.sf, w.warmSf, Gates.TestScale)(sf))
      .flatMap(_.gates).distinct.sorted
    val fns = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val rows = for (sf <- sfs.split(',').toSeq; gate <- gatesAt(sf)) yield {
      val dir = s"$dataRoot/$sf"
      fns(gate)(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$sf/$gate")
      val r = Gates.hashed(fns(gate)(spark, dir)).collect()(0)
      s"$sf\t$gate\t${r.getLong(0)}\t${r.getLong(1)}"
    }
    for (sf <- sfs.split(',')) {
      // the oracle SQL names the side tables the gates dump at sf0.01;
      // point it at the ones this run dumped, as graft.Verify does
      val json = gatesAt(sf).filter(oracle.contains).map { g =>
        val sql = oracle(g).replaceAll(
          """(oracle_aux/[A-Za-z0-9_]+_)sf0\.01(/\*\.parquet)""", "$1" + sf + "$2")
        quote(g) + ":" + quote(sql)
      }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/$sf/oracle_sql.json"), json)
    }
    val noOracle = gatesAt(Gates.TestScale).filterNot(oracle.contains)
    if (noOracle.nonEmpty) System.err.println(s"no oracle: $noOracle")
    Files.writeString(Paths.get(s"$outDir/hashes.tsv"),
      rows.mkString("", "\n", "\n"))
    spark.stop()
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
