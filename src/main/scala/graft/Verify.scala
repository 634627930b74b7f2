package graft
import java.nio.file.{Files, Paths}
import graft.core.Json
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is reported and the rest still run; the run then exits 1.
  *
  *   sbt "runMain graft.Verify <sfDir> <outDir> [q_a,q_b,...]"
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name subset (iteration aid;
    // the driver always runs the full surface)
    val only = args.lift(2).map(_.split(",").toSet)
    for (names <- only) {
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.pipeline.GraftSession.build(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = selected.toSeq.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    def q(s: String): String = "\"" + Json.esc(s) + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] failed ${failed.size}/${selected.size}: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
