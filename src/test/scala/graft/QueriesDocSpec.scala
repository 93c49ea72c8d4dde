package graft

import org.scalatest.funsuite.AnyFunSuite

/** QUERIES.md ↔ registry sync: the checked-in index must list exactly
  * the registered queries (per family, in order) with the file that
  * defines each. Sites carry no line number, so a line shift alone
  * never turns this spec red. Bench medians are timestamped
  * measurement data and deliberately NOT pinned — only the structural
  * rows are.
  */
class QueriesDocSpec extends AnyFunSuite {

  private lazy val doc: String =
    java.nio.file.Files.readString(java.nio.file.Paths.get("QUERIES.md"))

  private lazy val docRows: Seq[(String, String, String)] =
    """\| ([a-z0-9_]+) \| (SQL hash|rows-only) \| ([A-Za-z]+\.scala) \|"""
      .r.findAllMatchIn(doc)
      .map(m => (m.group(1), m.group(2), m.group(3))).toSeq

  test("QUERIES.md lists exactly the registered queries, in registry order") {
    val want = SparkEntry.registry.map(_.name)
    val got = docRows.map(_._1)
    val missing = want.toSet -- got.toSet
    val stale = got.toSet -- want.toSet
    assert(missing.isEmpty && stale.isEmpty,
      s"QUERIES.md out of sync — missing: $missing, stale: $stale. " +
        "Regenerate: sbt \"runMain graft.tools.QueriesDoc\"")
    assert(got == want, "row order diverged from registry order — regenerate")
  }

  test("every family carries a scale-shape line (doc + generator map)") {
    SparkEntry.families.foreach { case (family, _) =>
      assert(graft.tools.QueriesDoc.familyScaleShape.contains(family),
        s"$family has no scale-shape entry in QueriesDoc — add one")
      assert(doc.contains(s"## $family"),
        s"$family heading missing from QUERIES.md — regenerate")
    }
    assert(doc.contains("*Scale shape:*"),
      "scale-shape lines missing — regenerate QUERIES.md")
  }

  test("oracle kind column matches the registry") {
    val kinds = SparkEntry.registry
      .map(q => q.name -> (if (q.oracle.isDefined) "SQL hash" else "rows-only"))
      .toMap
    docRows.foreach { case (n, kind, _) =>
      assert(kinds(n) == kind, s"$n: doc says $kind, registry disagrees")
    }
  }

  test("definition sites name the one file that defines the query") {
    docRows.foreach { case (n, _, file) =>
      val p = java.nio.file.Paths.get(s"src/main/scala/graft/queries/$file")
      assert(java.nio.file.Files.exists(p), s"$n: $file missing")
      val defs = scala.util.matching.Regex.quote(s"""Q("$n"""").r
        .findAllMatchIn(java.nio.file.Files.readString(p)).size
      assert(defs == 1,
        s"$n: $file defines it $defs times, want exactly 1 — regenerate")
    }
  }
}
