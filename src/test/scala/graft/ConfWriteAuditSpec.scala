package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps library code off the caller's session conf: operators and
  * sources run inside concurrent Overlap chains on a shared session, so
  * a conf they need belongs on their own plan, not on the session. The
  * two calls whose documented job is to set the conf (`Router.applyCosts`
  * behind `calibrate`/`calibrateOrLoad`, and `RangeJoin.autoBandWidth`)
  * are the only ones allowed. The test keeps its original title; the
  * `StreamingBench` it names has been deleted, so no file of that name
  * is allowed any more. */
class ConfWriteAuditSpec extends AnyFunSuite {

  test("source audit: library code writes no session conf outside Router, RangeJoin and StreamingBench") {
    val write = """\bconf\.(set|unset)\(""".r
    val offenders = SourceAudit.offenders("src/main/scala",
      Set("Router.scala", "RangeJoin.scala"))(write.findFirstIn(_).isDefined)
    assert(offenders.isEmpty,
      s"session conf writes outside the allowed files:\n${offenders.mkString("\n")}")
  }
}
