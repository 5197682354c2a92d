package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every staged write promotes through `sources.StagedCommit`:
  * `tools/check_promotes.py` fails on a Hadoop rename anywhere else
  * under `src/main` (VersionedRoot's versioned publication excepted). */
class PromotesSpec extends AnyFunSuite {
  test("check_promotes: no hand-written promote outside StagedCommit and VersionedRoot") {
    val out = new StringBuilder
    val log = scala.sys.process.ProcessLogger(l => out.append(l).append('\n'))
    val rc = scala.sys.process.Process(Seq("python3", "tools/check_promotes.py")).!(log)
    assert(rc === 0, s"tools/check_promotes.py failed:\n$out")
  }
}
