package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guard against experiment-only env knobs: every environment read in
  * the program sources and build.sbt must name a variable on this
  * allowlist, each with the reason it exists. A new knob needs a reason
  * here, or it belongs in a benchmark, not in the program. */
class KnobsSpec extends AnyFunSuite {

  private val allowed: Map[String, String] = Map(
    "SPARK_GRAFT_CPUS" -> "run interface: cores for local[N] in Bench and Verify",
    "SPARK_GRAFT_SF_DIR" -> "run interface: the scale-factor table directory Bench reads",
    "SPARK_GRAFT_BENCH_CONVS" -> "run interface: Bench's extraction corpus size",
    "SPARK_GRAFT_BENCH_REPS" -> "run interface: Bench's extraction repetitions",
    "SPARK_GRAFT_BENCH_JSON" -> "run interface: where Bench writes its JSON line",
    "SPARK_DRIVER_MEM" -> "deployment: the Spark driver JVM's -Xmx",
    "SPARK_HOME" -> "deployment: the Spark home local-cluster executors launch from")

  private lazy val root: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .getOrElse(fail("no build.sbt above the working directory"))

  private val read = """sys\.env|System\.getenv""".r
  private val literal =
    """(?:sys\.env(?:\.(?:get|getOrElse|contains|apply))?|System\.getenv)\(\s*"([^"]+)"""".r

  /** (file:line, variable name or the unparsed read) for every read. */
  private def envReads(): Seq[(String, String)] = {
    val main = Files.walk(root.resolve("src/main/scala"))
    val files = try main.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
      finally main.close()
    for {
      f <- (files :+ root.resolve("build.sbt")).sorted
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- read.findAllMatchIn(line)
    } yield {
      val name = literal.findPrefixMatchOf(line.substring(m.start))
        .fold(s"<non-literal> ${line.trim}")(_.group(1))
      (s"${root.relativize(f)}:${i + 1}", name)
    }
  }

  test("every env read names an allowlisted variable") {
    val reads = envReads()
    assert(reads.nonEmpty, "the scan found no env reads at all")
    val unknown = reads.filterNot { case (_, name) => allowed.contains(name) }
    if (unknown.nonEmpty)
      fail(unknown.map { case (at, name) => s"$at reads $name" }.mkString("\n"))
  }
}
