package graft

import org.scalatest.funsuite.AnyFunSuite

/** The decade-row discipline, enforced (round-11 verdict item 8: the
  * video family shipped a round with NO ×10 measurement because the
  * convention was hand-maintained): every registered query name must
  * appear in BASELINE.md — a decade row, an adjudication note, or a
  * family measurement section. A name this lint reports was added
  * without the scale measurement the repo's convention requires; add
  * the ×10 row (timed with `SPARK_GRAFT_BENCH_ONLY=<name> graft.Bench`,
  * plus the adjudication if any term is super-linear) rather than
  * whitelisting.
  */
class BaselineCoverageSpec extends AnyFunSuite {

  test("every registered query appears in BASELINE.md") {
    val baseline = new String(
      java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BASELINE.md")),
      java.nio.charset.StandardCharsets.UTF_8)
    // anchored match, not raw substring: `video_dup_pairs` must not
    // pass vacuously because `video_dup_pairs_r2` has a row — \b fails
    // at an underscore (both sides word chars), so a name followed by
    // `_suffix` does NOT satisfy its own boundary.
    val missing = SparkEntry.queries.keys.toSeq.sorted.filterNot { n =>
      ("""\b""" + java.util.regex.Pattern.quote(n) + """\b""").r
        .findFirstIn(baseline).isDefined
    }
    assert(missing.isEmpty,
      s"queries with no BASELINE.md measurement row: " +
        s"${missing.mkString(", ")} — run graft.Bench with " +
        "SPARK_GRAFT_BENCH_ONLY on sf0.1 and the ×10 fixture and add the " +
        "decade rows")
  }
}
