package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Operator knobs are plan or session settings, not process env vars:
  * the only env read under `graft.operators` is the deployment path
  * GRAFT_EXPORT_ROOT. */
class NoEnvKnobsSpec extends AnyFunSuite {
  test("graft.operators reads no process env var but GRAFT_EXPORT_ROOT") {
    val root = Paths.get("src/main/scala/graft/operators")
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val envRead = """sys\.env|System\.getenv""".r
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    assert(files.nonEmpty)
    val reads = files.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined &&
            !line.contains("\"GRAFT_EXPORT_ROOT\"") =>
          s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(reads.isEmpty, reads.mkString("env reads in operators:\n", "\n", ""))
  }
}
