package graft.perfbench

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import graft.core._
import graft.synth.TurnGen

/** Per-stage self-time table of the extraction core: one thread, no
  * Spark, over a seeded sample of the corpus's turns. Every stage is
  * timed alone on inputs prepared beforehand (deep copies — the
  * tokenizer recycles its spans per call), after `warmups` rounds of
  * every stage (the JIT needs tens of thousands of calls per stage
  * before the times settle), `reps` times; each rep is the mean
  * ns/turn over the dialect's sample. */
final class CoreTable(corpus: Corpus, perDialect: Int, warmups: Int, reps: Int, tracer: Tracer) {

  private final class Prepared(val payload: String, val blocks: Vector[Block],
      val content: ArraySeq[Span], val glyphs: ArraySeq[Span], val key: Option[String])

  val dialects = Seq("pdf", "html", "plain")
  val stages = Seq("tokenize", "boiler", "header", "code", "table", "serialize", "extract_one")

  private var sink = 0L
  // fallback counts over every visited turn (the corpus's natural mix)
  private var visited, hatRetry, configMiss, noconf, extraDet = 0

  private def missing(o: Option[String]) = o.forall(_.isEmpty)

  private def copyBlocks(bs: Vector[Block]): Vector[Block] =
    bs.map(b => b.copy(spans = b.spans.map(_.copy())))

  private def glyphsOf(c: ArraySeq[Span]): ArraySeq[Span] =
    c.filter(s => s.kind == "g" && s.page == 0)

  /** Header stage as the extractor runs it: hat region, then the
    * reserve-region retry when subject or grade is missing. */
  private def header(c: ArraySeq[Span]): (Option[String], Option[String], Boolean) = {
    val r = Header.recognizeHat(c, Layouts.Hat)
    if (missing(r._1) || missing(r._2)) {
      val r2 = Header.recognizeHat(c, Layouts.HatReserve)
      (r2._1, r2._2, true)
    } else (r._1, r._2, false)
  }

  private def keyOf(subj: Option[String], grade: Option[String]): (Option[String], Boolean) =
    if (missing(subj) || missing(grade)) (None, false)
    else {
      val k = s"${subj.get.replace(" ", "")} ${grade.get}"
      if (Layouts.configs.contains(k)) (Some(k), false) else (None, true)
    }

  private def code(c: ArraySeq[Span]): Int =
    CodeRec.recognizeCode(c.filter(s => s.page == 0 && Layouts.Code.containsFully(s)))
      .toOption.flatten.map(_.length).getOrElse(-1)

  /** Table stage as the extractor runs it: detect + group once, the
    * config path, then the no-config fallback and the extra detector.
    * Returns (cells recognized, took no-config fallback, took extra). */
  private def table(p: Prepared): (Int, Boolean, Boolean) = {
    val rows = TableDetect.extractTableRows(
      TableDetect.detectCells(p.content, TableDetect.MainDetector))
    var digits: Classify.ScoreBuf = Classify.ScoreBuf.empty
    p.key.foreach { k =>
      TableDetect.recognizeTableFromRows(rows, p.glyphs, Layouts.configs(k))
        .foreach(d => digits = d)
    }
    if (p.key.isEmpty || digits.isEmpty) {
      TableDetect.recognizeTableAllFromRows(rows, p.glyphs).filter(_._2.nonEmpty) match {
        case Some((_, d)) => (d.n, true, false)
        case None =>
          val d = TableDetect.recognizeTableAll(p.content, p.glyphs, TableDetect.ExtraDetector)
          (d.map(_._2.n).getOrElse(0), true, true)
      }
    } else (digits.n, false, false)
  }

  private def stage(name: String, p: Prepared): Int = name match {
    case "tokenize" => Tokenizer.tokenize(p.payload).length
    case "boiler" => Boiler.contentSpans(p.blocks).length
    case "header" => header(p.content)._1.map(_.length).getOrElse(0)
    case "code" => code(p.content)
    case "table" => table(p)._1
    case "serialize" => Extractor.serializeContent(p.content)._1.length
    case "extract_one" => Extractor.extractOne("c", 0, p.payload).total_score
  }

  private def prepare(): Map[String, Array[Prepared]] = {
    val byDialect = dialects.map(_ -> mutable.ArrayBuffer.empty[Prepared]).toMap
    var i = 0L
    while (byDialect.values.exists(_.length < perDialect)) {
      val conv = corpus.convId(i)
      for (t <- 0 until corpus.turnsOf(conv)) {
        val in = TurnGen.genTurn(conv, t).input
        val blocks = copyBlocks(Tokenizer.tokenize(in.text))
        val content = ArraySeq.unsafeWrapArray(Boiler.contentSpans(blocks))
        val (s, g, retried) = header(content)
        val (key, miss) = keyOf(s, g)
        val p = new Prepared(in.text, blocks, content, glyphsOf(content), key)
        val (_, nc, extra) = table(p)
        visited += 1
        if (retried) hatRetry += 1
        if (miss) configMiss += 1
        if (nc) noconf += 1
        if (extra) extraDet += 1
        val buf = byDialect(in.tool)
        if (buf.length < perDialect) buf += p
      }
      i += 1
    }
    byDialect.map { case (d, b) => d -> b.toArray }
  }

  private def perTurnNs(ps: Array[Prepared], name: String): Double = {
    val t0 = System.nanoTime()
    var j = 0
    while (j < ps.length) { sink += stage(name, ps(j)); j += 1 }
    (System.nanoTime() - t0).toDouble / ps.length
  }

  /** Runs the table; returns the raw record (rep samples per stage). */
  def run(): Map[String, Any] = {
    val prepared = tracer.span("core.prepare")(prepare())
    val all = prepared.values.flatten.toArray
    for (_ <- 0 until warmups; d <- dialects; st <- stages) perTurnNs(prepared(d), st)
    // reps round-robin over the stages, so slow spells of the machine
    // spread over all of them instead of landing on one
    val keys = for (d <- dialects; st <- stages) yield (d, st)
    val rounds = (0 until reps).map(_ => keys.map { case (d, st) =>
      tracer.span(s"core.$d.$st")(perTurnNs(prepared(d), st))
    })
    val samples = keys.zipWithIndex.map { case ((d, st), i) => s"$d.$st" -> rounds.map(_(i)) }
    // allocation of the whole per-turn call, over the mixed sample
    val tmx = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val alloc = (0 until reps).map { _ =>
      val a0 = tmx.getThreadAllocatedBytes(tid)
      perTurnNs(all, "extract_one")
      (tmx.getThreadAllocatedBytes(tid) - a0).toDouble / all.length
    }
    // the Spark boundary's UTF-8 decode, same sample
    val utf8 = all.map(p => org.apache.spark.unsafe.types.UTF8String.fromString(p.payload))
    val view = new CharsView
    def decodeRep(): Double = {
      val t0 = System.nanoTime()
      var j = 0
      while (j < utf8.length) { sink += graft.pipeline.Pipeline.decodeUtf8(utf8(j), view).length; j += 1 }
      (System.nanoTime() - t0).toDouble / utf8.length
    }
    for (_ <- 0 until warmups) decodeRep()
    val decode = (0 until reps).map(_ => tracer.span("pipeline.decode")(decodeRep()))
    def rate(n: Int) = n.toDouble / visited
    Map(
      "sample_turns" -> dialects.map(d => d -> prepared(d).length).toMap,
      "visited_turns" -> visited,
      "stage_ns" -> samples.toMap,
      "alloc_bytes_per_turn" -> alloc,
      "decode_ns" -> decode,
      "hat_retry_rate" -> rate(hatRetry),
      "config_miss_rate" -> rate(configMiss),
      "noconf_rate" -> rate(noconf),
      "extra_detector_rate" -> rate(extraDet),
      "sink" -> (sink & 1L))
  }
}
