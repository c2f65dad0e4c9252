package graft

import org.scalatest.funsuite.AnyFunSuite

/** The committed CATALOG.md must be exactly what the current code
  * generates — a gate added (or a spec renamed) without regenerating
  * the catalog fails here, so the user-facing table cannot drift. The
  * catalog also carries every persisted index's layout, so an
  * accidental layout edit (which would silently rebuild every served
  * copy) fails here instead. Also
  * exercises Catalog.render()'s internal modules-vs-SparkEntry.defs
  * consistency require. */
class CatalogSpec extends AnyFunSuite {

  test("CATALOG.md matches a fresh render of SparkEntry.defs") {
    val rendered = Catalog.render()
    val committed = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("CATALOG.md")), "UTF-8")
    assert(committed == rendered,
      "CATALOG.md is stale — regenerate with `sbt \"runMain graft.Catalog\"`")
  }

  test("every gate appears exactly once in the catalog") {
    val rendered = Catalog.render()
    SparkEntry.defs.foreach { d =>
      val hits = s"\\| ${java.util.regex.Pattern.quote(d.name)} \\|".r
        .findAllIn(rendered).size
      assert(hits == 1, s"${d.name}: $hits catalog rows")
    }
  }

  test("every persisted index appears exactly once, with its layout") {
    val rendered = Catalog.render()
    graft.sources.IndexSpec.all.foreach { r =>
      val row = s"| ${r.name} | ${r.table} | ${r.schema} | ${r.bucketCol} × ${r.buckets} |"
      assert(rendered.split("\n").count(_.startsWith(row)) == 1, row)
    }
  }
}
