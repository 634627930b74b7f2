package graft.perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.{ExtractedTurn, Json, TurnInput}
import graft.synth.TurnGen

/** The seeded transcript corpus of one run: conversations
  * `conv-<seed·10⁶ + i>`, i = 0, 1, … until `targetTurns` turns are
  * reached, so seeds draw disjoint conversations from the generator's
  * natural dialect mix (40% pdf, 30% html, 30% plain) while every seed
  * gets the same amount of work (to within one conversation). Written
  * once, before any timing:
  *   turns/  the program's input (TurnInput columns only);
  *   gen/    the same rows plus the canonical JSON of the generator's
  *           ground-truth record, for the checks. */
final class Corpus(val root: String, val seed: Long, targetTurns: Long) {
  val turnsPath = s"$root/turns"
  val genPath = s"$root/gen"
  val firstConv: Long = seed * 1000000L

  def convId(i: Long): String = f"conv-${firstConv + i}%09d"
  def turnsOf(conv: String): Int = TurnGen.turnsPerConv(conv)
  def expectedOf(conv: String): Seq[ExtractedTurn] =
    (0 until turnsOf(conv)).map(t => TurnGen.genTurn(conv, t).expected)

  /** Conversations needed to reach the target turn count. */
  val nConvs: Long = {
    var n = 0L; var t = 0L
    while (t < targetTurns) { t += turnsOf(convId(n)); n += 1 }
    n
  }

  /** Generates both tables, the input as `parallelism` files; returns
    * the number of turns. */
  def generate(spark: SparkSession, parallelism: Int): Long = {
    import spark.implicits._
    val first = firstConv
    spark.range(0, nConvs, 1, parallelism).flatMap { i =>
      val conv = f"conv-${first + i}%09d"
      (0 until TurnGen.turnsPerConv(conv)).iterator.map { t =>
        val g = TurnGen.genTurn(conv, t)
        (g.input, Json.turnJson(g.expected))
      }
    }.toDF("input", "expected_json")
      .select(col("input.*"), col("expected_json"))
      .write.mode("overwrite").parquet(genPath)
    // input files of even size, two per core: whole waves of scan tasks
    spark.read.parquet(genPath).select(TurnCols.map(col): _*)
      .repartition(parallelism, col("conv_id"), col("turn_idx"))
      .write.mode("overwrite").parquet(turnsPath)
    spark.read.parquet(turnsPath).count()
  }

  private val TurnCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")

  def turns(spark: SparkSession): Dataset[TurnInput] = {
    import spark.implicits._
    spark.read.parquet(turnsPath).as[TurnInput]
  }

  /** Compares extracted records with the ground truth, turn by turn:
    * (rows that differ, expected turns missing, unexpected extra rows). */
  def mismatches(out: Dataset[ExtractedTurn]): (Long, Long, Long) = {
    val spark = out.sparkSession
    import spark.implicits._
    val got = out.map(t => (t.conv_id, t.turn_idx, Json.turnJson(t)))
      .toDF("conv_id", "turn_idx", "got_json")
    val exp = spark.read.parquet(genPath).select("conv_id", "turn_idx", "expected_json")
    val r = got.join(exp, Seq("conv_id", "turn_idx"), "full_outer")
      .agg(
        sum(when(col("got_json").isNotNull && col("expected_json").isNotNull &&
          col("got_json") =!= col("expected_json"), 1L).otherwise(0L)),
        sum(when(col("got_json").isNull, 1L).otherwise(0L)),
        sum(when(col("expected_json").isNull, 1L).otherwise(0L)))
      .first()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }
}

object Fs {
  def deleteTree(path: String): Unit = {
    require(path.nonEmpty, "refusing to delete the working directory")
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
        .forEach(f => java.nio.file.Files.delete(f))
      finally walk.close()
    }
  }

  /** (file count, total bytes) of the parquet data files under `path`. */
  def parquetFiles(path: String): (Long, Long) = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try {
      var n = 0L; var bytes = 0L
      walk.filter(f => f.getFileName.toString.endsWith(".parquet")).forEach { f =>
        n += 1; bytes += java.nio.file.Files.size(f)
      }
      (n, bytes)
    } finally walk.close()
  }
}
