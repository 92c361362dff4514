package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args: run only the named queries (local iteration;
    // the driver's 2-arg invocation is unaffected)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // Failed queries (no parquet written) are recorded in _failures.json so
    // the compare step has a positive signal even for oracle-less queries,
    // which would otherwise fail silently (ADVICE.md round 1).
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Exit stays 0 even on per-query failure: the driver must still run the
    // DuckDB compare for the queries that DID produce parquet — the manifest
    // (read by tools/compare.py) carries the failure signal.
    Files.writeString(Paths.get(s"$outDir/_failures.json"),
      failed.map(Json.str).mkString("[", ",", "]"))
    Scratch.purge(spark)
    spark.stop()
  }
}
