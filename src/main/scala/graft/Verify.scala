package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local(GraftSession.cores(default = 4))
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (comma-separated name prefixes); the driver
    // never sets it, so the gate always runs the full inventory.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.exists(name.startsWith)) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally graft.util.QueryCaches.drain()
    }
    // a tab or CR in builder-authored SQL left unescaped would make the
    // oracle compare's json.load fail and silently zero its correctness
    def q(s: String): String = "\"" + Bench.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
