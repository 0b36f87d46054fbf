package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Library behaviour must not depend on the environment a job happens
  * to run in: only the entry-point mains read env vars (their sizes and
  * core counts are their arguments), and the few deployment paths below
  * read a system property.
  */
class HygieneSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala/graft")
  private val reads = """sys\.env|sys\.props|System\.getenv|System\.getProperty""".r
  private val mains = Set("Bench", "Verify", "BenchExtra", "PlanDump", "ScalingBench",
    "SkewBench", "DedupScaleBench", "ShuffleFloorBench").map(_ + ".scala")

  private def allowed(file: String, line: String): Boolean =
    mains(file) ||
      file == "MstrMain.scala" && line.contains("\"SPARK_MASTER\"") ||
      Set("CorpusOps.scala", "RelationalOps.scala")(file) &&
        (line.contains("\"java.io.tmpdir\"") || line.contains("\"user.name\""))

  test("library code reads no environment variable or system property") {
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, "sanity: the scan must see the library sources")
    val offenders = for {
      f: Path <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if reads.findFirstIn(line).nonEmpty && !allowed(f.getFileName.toString, line)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
