package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source audits: lines under `root` that `hit` matches, as `path:line`,
  * in files not named in `allowed`. Pure comment lines are skipped, so
  * prose references are fine. */
object SourceAudit {
  def offenders(root: String, allowed: Set[String])(hit: String => Boolean): Seq[String] =
    Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => allowed(p.getFileName.toString))
      .flatMap { p =>
        new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
          .filter { case (l, _) =>
            val t = l.trim
            !t.startsWith("//") && !t.startsWith("*") && hit(t)
          }
          .map { case (_, i) => s"$p:${i + 1}" }
      }
      .toSeq
}

/** Keeps the probe-main diet: measurement lives in the running harnesses
  * ([[Bench]], [[QueryProfile]]), not in hand-written copies of their
  * query loop. Only the driver's two mains, the query-loop tool and the
  * sf1 data generator may declare an entry point. */
class MainsAuditSpec extends AnyFunSuite {

  test("source audit: only Bench, Verify, QueryProfile and Sf1Gen declare a main") {
    val entryPoint = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val offenders = Seq(
      "src/main/scala" -> Set("Bench.scala", "Verify.scala", "QueryProfile.scala"),
      "src/test/scala" -> Set("Sf1Gen.scala"))
      .flatMap { case (dir, ok) =>
        SourceAudit.offenders(dir, ok)(entryPoint.findFirstIn(_).isDefined)
      }
    assert(offenders.isEmpty,
      s"entry points outside the allowed harnesses:\n${offenders.mkString("\n")}")
  }
}
