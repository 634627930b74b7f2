package graft.perfbench

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import graft.core.{ExtractedTurn, Messages}
import graft.io.TableIO
import graft.pipeline.Pipeline

/** extract_mix: `Pipeline.extractTurns` over the seeded corpus into the
  * noop sink; setup is the session build plus the warm-up passes. The
  * core and the pipeline boundary (scan, UTF-8 decode, encoder) do
  * nearly all the work. The traced run adds the per-layer measurements
  * of the core, the pipeline and the table layer. */
final class ExtractMix(ctx: Ctx) extends Workload {
  private val a = ctx.args
  private val corpus = new Corpus(s"${a.work}/corpus", a.seed, ExtractMix.Turns)
  private var turns = 0L

  private def extractPass(): Unit = {
    val out = ctx.tracer.span("pipeline.extractTurns")(Pipeline.extractTurns(corpus.turns(ctx.spark)))
    ctx.tracer.span("pipeline.write_noop")(out.write.format("noop").mode("overwrite").save())
  }

  def run(): Unit = {
    val (_, buildS) = Clock.timed(ctx.build(a.cores))
    val (n, genS) = Clock.timed(ctx.tracer.span("corpus.generate")(
      corpus.generate(ctx.spark, a.cores * 2)))
    turns = n
    ctx.rec("turns") = turns
    ctx.rec("gen_s") = genS
    ctx.heap.collect()
    val (_, warmS) = Clock.timed(ctx.tracer.span("setup.warm_up") {
      for (_ <- 0 until ExtractMix.WarmUpPasses) extractPass()
    })
    ctx.rec("setup_s") = buildS + warmS
    ctx.passes(minPasses = 3)(_ => ctx.client.op("extract_pass", "op.extract_pass")(extractPass()).isDefined)
    ctx.tracer.span("check") {
      val (bad, missing, extra) = corpus.mismatches(Pipeline.extractTurns(corpus.turns(ctx.spark)))
      ctx.rec("check") = Map("extract_mismatch" -> bad, "extract_missing" -> missing,
        "extract_extra" -> extra)
    }
    if (a.trace) traced()
  }

  private def traced(): Unit = {
    ctx.rec("scan_s") = (0 until 3).map { _ =>
      Clock.timed(ctx.tracer.span("pipeline.scan")(
        ctx.spark.read.parquet(corpus.turnsPath).select("conv_id", "turn_idx", "text")
          .write.format("noop").mode("overwrite").save()))._2
    }
    ctx.rec("core") = new CoreTable(corpus, perDialect = 100, warmups = 100, reps = 11, ctx.tracer).run()
    ctx.rec("dialect_turns") = corpus.turns(ctx.spark).groupBy("tool").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ctx.rec("error_rows") = ExtractMix.errorRows(Pipeline.extractTurns(corpus.turns(ctx.spark)))
    new TableSection(ctx, corpus, turns).run()
    // scaling pair local[1] vs local[4]; resolved only when 4 ≤ nproc
    ctx.rec("scaling") =
      if (a.nproc < 4) Map("resolved" -> false)
      else {
        def tps(c: Int): Double = {
          ctx.build(c)
          ctx.setTracing(false)
          extractPass()
          turns / Clock.timed(extractPass())._2
        }
        val t1 = tps(1); val t4 = tps(4)
        Map("resolved" -> true, "tps_1" -> t1, "tps_4" -> t4)
      }
  }
}

object ExtractMix {
  val Turns = 28000L
  /** Passes the JIT needs before pass times settle. */
  val WarmUpPasses = 3

  /** Rows carrying each error class, over an extraction's output. */
  def errorRows(out: Dataset[ExtractedTurn]): Map[String, Long] = {
    val byClass = out.filter(col("errors").isNotNull)
      .select(col("conv_id"), col("turn_idx"), explode(col("errors")).as("e"))
      .select(col("conv_id"), col("turn_idx"),
        when(col("e") === Messages.HeaderError, "header")
          .when(col("e") === Messages.CodeError, "code")
          .when(col("e") === Messages.TableError, "table")
          .when(col("e").startsWith(Messages.ProcessingErrorPrefix), "processing")
          .otherwise("other").as("cls"))
      .distinct().groupBy("cls").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq("header", "code", "table", "processing", "other").map(c => c -> byClass.getOrElse(c, 0L)).toMap
  }
}

/** The table layer inside the traced extract_mix run: extraction feeds
  * `TableIO.writeExtracted` (32 buckets, 4 waves) into a fresh root,
  * once to warm up and once timed, followed by a seeded stream of
  * `TableIO.lookupConv(...).collect()` point reads. Checks, unmeasured:
  * read-back count and lineage rows equal the turns, every lookup
  * returns exactly its conversation's turns, the table's rows equal the
  * ground truth. */
final class TableSection(ctx: Ctx, corpus: Corpus, turns: Long) {
  private val a = ctx.args
  private val rng = new java.util.Random(a.seed)
  private var lookups, lookupBad = 0L

  private def ingest(root: String): Seq[TableIO.BucketLineage] = {
    val out = ctx.tracer.span("pipeline.extractTurns")(Pipeline.extractTurns(corpus.turns(ctx.spark)))
    ctx.tracer.span("io.writeExtracted")(TableIO.writeExtracted(out, root))
  }

  /** Seeded point lookups, each checked (unmeasured) against the
    * conversation's ground truth; timed as client operations unless
    * warming up. */
  private def lookupStream(root: String, n: Int, timed: Boolean): Unit =
    for (_ <- 0 until n) {
      val conv = corpus.convId((rng.nextDouble() * corpus.nConvs).toLong)
      def lookup() = TableIO.lookupConv(ctx.spark, root, conv).collect()
      val got = if (timed) ctx.client.op("lookup", "io.lookupConv")(lookup()) else Some(lookup())
      got.foreach { rows =>
        lookups += 1
        if (rows.sortBy(_.turn_idx).toSeq != corpus.expectedOf(conv)) lookupBad += 1
      }
    }

  def run(): Unit = ctx.tracer.span("table") {
    val warm = s"${a.work}/table-warm"
    ctx.tracer.span("table.warm_up") {
      ingest(warm)
      lookupStream(warm, TableSection.WarmUpLookups, timed = false)
    }
    Fs.deleteTree(warm)
    val root = s"${a.work}/table"
    ctx.heap.collect()
    val (lin, ingestS) = Clock.timed(ctx.client.op("ingest_pass", "op.ingest_pass")(ingest(root)))
    ctx.tracer.span("lookups")(lookupStream(root, TableSection.Lookups, timed = true))
    val lineage = lin.getOrElse(Nil)
    val readBack = TableIO.readExtracted(ctx.spark, root).count()
    val (bad, missing, extra) = corpus.mismatches(TableIO.readExtracted(ctx.spark, root))
    val (files, bytes) = Fs.parquetFiles(root)
    ctx.rec("table") = Map("ingest_s" -> ingestS, "files" -> files, "bytes" -> bytes,
      "wave_ms" -> lineage.map(_.wallMs))
    ctx.rec("table_check") = Map(
      "table_mismatch" -> bad, "table_missing" -> missing, "table_extra" -> extra,
      "readback_bad" -> (if (readBack == turns) 0 else 1),
      "lineage_bad" -> (if (lineage.map(_.rows).sum == turns) 0 else 1),
      "lookup_mismatch" -> lookupBad, "lookups_checked" -> lookups)
    Fs.deleteTree(root)
  }
}

object TableSection {
  val WarmUpLookups = 10
  /** At least 200, so ten lookups lie beyond the p95. */
  val Lookups = 210
}

/** query_mix: relational queries over the generated sf-style tables,
  * each written to the noop sink, every pass on a fresh session (the
  * query memos key on the session). The queries run in the order given:
  * a fixed order, because queries share per-session builds (the graph
  * queries' simhash pair list is built by whichever runs first) and
  * what the memos keep alive depends on what ran last, so per-query
  * times and the heap depend on the order. The warm-up pass writes
  * each result to parquet for the DuckDB oracle check. */
final class QueryMix(ctx: Ctx) extends Workload {
  private val a = ctx.args
  private def query(q: String) = graft.queries.Relational.queries(q)

  def run(): Unit = {
    val order = a.queries
    ctx.rec("oracle_sql") = order.map(q => q -> graft.queries.Relational.oracleSql(q)).toMap
    val results = s"${a.work}/results"
    ctx.rec("results_dir") = results
    val (_, buildS) = Clock.timed(ctx.build(a.cores))
    val (_, warmS) = Clock.timed(ctx.tracer.span("setup.warm_up") {
      val s = ctx.spark.newSession()
      for (q <- order) {
        try query(q)(s, a.data).write.mode("overwrite").parquet(s"$results/$q")
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] warm-up $q failed: ${e.getClass.getName}: ${e.getMessage}") }
      }
    })
    ctx.rec("setup_s") = buildS + warmS
    ctx.passes(minPasses = 3) { _ =>
      val s = ctx.spark.newSession()
      order.map { q =>
        ctx.client.op(q, s"queries.$q") {
          val df = ctx.tracer.span(s"queries.$q.build")(query(q)(s, a.data))
          ctx.tracer.span(s"queries.$q.write")(df.write.format("noop").mode("overwrite").save())
        }.isDefined
      }.forall(identity)
    }
  }
}
