package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // SPARK_GRAFT_MASTER lets the cluster-posture audit run the same dump
    // on local-cluster[n,c,mem] (multi-JVM executors, reliable checkpoints)
    // — the 100 TB deployment shape; results feed the identical DuckDB
    // hash-compare (BASELINE.md r19).
    val spark = GraftSession.fromEnv()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // optional third arg: comma-separated query names, for fast iteration
    SparkEntry.select(args.lift(2)).foreach { name =>
      try SparkEntry.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    graft.operators.Checkpoints.releaseShared() // shared tables only release explicitly
    spark.stop()
  }

  /** oracle_sql.json's body: one JSON object, query name → DuckDB SQL,
    * keys sorted. */
  def oracleJson(sql: Map[String, String]): String =
    new ObjectMapper().writeValueAsString(new java.util.TreeMap[String, String](sql.asJava))
}
