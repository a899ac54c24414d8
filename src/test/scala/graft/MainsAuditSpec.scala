package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the probe-main diet: measurement lives in the running harnesses
  * ([[Bench]], [[QueryProfile]]), not in hand-written copies of their
  * query loop. Only the driver's two mains, the query-loop tool and the
  * sf1 data generator may declare an entry point. */
class MainsAuditSpec extends AnyFunSuite {

  test("source audit: only Bench, Verify, QueryProfile and Sf1Gen declare a main") {
    val allowed = Seq(
      "src/main/scala" -> Set("Bench.scala", "Verify.scala", "QueryProfile.scala"),
      "src/test/scala" -> Set("Sf1Gen.scala"))
    val entryPoint = """\bdef\s+main\s*\(|\bextends\s+App\b""".r
    val offenders = allowed.flatMap { case (dir, ok) =>
      Files.walk(Paths.get(dir)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filterNot(p => ok(p.getFileName.toString))
        .flatMap { p =>
          new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
            .filter { case (l, _) =>
              val t = l.trim
              // skip pure comment lines; prose references are fine
              !t.startsWith("//") && !t.startsWith("*") &&
                entryPoint.findFirstIn(t).isDefined
            }
            .map { case (_, i) => s"$p:${i + 1}" }
        }
    }
    assert(offenders.isEmpty,
      s"entry points outside the allowed harnesses:\n${offenders.mkString("\n")}")
  }
}
