package graft

/** CATALOG.md generator (r15 verdict item 8): one navigable table over
  * the full gate census — query name, owning module (the user-facing
  * entry point), oracle class, and the ScalaTest suites that reference
  * the gate by name — generated FROM [[SparkEntry.defs]] and the
  * attest/ records so it cannot drift from the code; plus the persisted
  * index layouts from [[graft.sources.IndexSpec.all]]. Run via
  * `sbt "runMain graft.Catalog"`; CatalogSpec asserts the committed
  * file is regeneration-stable.
  *
  * No SparkSession: QueryDef is pure data until `fn` is applied, so the
  * catalog renders from the definition list alone.
  */
object Catalog {

  /** Single-sourced from [[SparkEntry.moduleDefs]] (which [[SparkEntry
    * .defs]] itself flattens), so the catalog cannot miss a module by
    * construction. */
  def modules: Seq[(String, Seq[QueryDef])] = SparkEntry.moduleDefs

  /** ScalaTest suites whose source mentions the query name as a string
    * literal — the "where is this pinned beyond the oracle" column. */
  private def specIndex(): Map[String, Seq[String]] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/test/scala")
    if (!java.nio.file.Files.isDirectory(root)) return Map.empty
    // Files.walk holds open directory handles until closed — CatalogSpec
    // calls this inside the long-lived test JVM, so close deterministically
    val walk = java.nio.file.Files.walk(root)
    val files =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith("Spec.scala")).toSeq
      finally walk.close()
    val bodies = files.map(p =>
      p.getFileName.toString.stripSuffix(".scala") ->
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    val names = modules.flatMap(_._2.map(_.name))
    names.map { n =>
      n -> bodies.collect { case (f, b) if b.contains("\"" + n + "\"") => f }
        .sorted
    }.toMap
  }

  /** Per-query heavy-SF attestation from the committed attest records:
    * the query maps of every solo / sharded record (keyed by SF). The
    * full-census gate records carry tallies + a status digest, not
    * per-query rows, so census-wide sf1/sf10 claims live in BASELINE.md
    * and the round notes — this column names only the individually
    * recorded heavy replays. */
  private def heavyAttest(): Map[String, Seq[String]] = {
    val dir = new java.io.File("attest")
    val files = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.endsWith(".json") &&
        (f.getName.startsWith("solo_") || f.getName.startsWith("sharded_")))
    val out = scala.collection.mutable.Map[String, List[String]]()
    val nameRe = "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\{\\s*\"status\"\\s*:\\s*\"PASS".r
    files.foreach { f =>
      val sf = f.getName.stripSuffix(".json").split("_", 2).last
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      nameRe.findAllMatchIn(txt).foreach { m =>
        out(m.group(1)) = (sf :: out.getOrElse(m.group(1), Nil)).distinct
      }
    }
    out.view.mapValues(_.sorted).toMap
  }

  def render(): String = {
    val fromEntry = SparkEntry.defs.map(_.name)
    val specs = specIndex()
    val heavy = heavyAttest()
    val oracled = modules.flatMap(_._2).count(_.oracle.isDefined)
    val sb = new StringBuilder
    sb ++= "# Gate catalog\n\n"
    sb ++= "GENERATED — do not edit. Regenerate with `sbt \"runMain graft.Catalog\"`\n"
    sb ++= "(CatalogSpec pins the committed file to the code).\n\n"
    sb ++= s"${fromEntry.size} gate queries (${oracled} DuckDB-oracled, " +
      s"${fromEntry.size - oracled} rows-only), every one runnable as\n" +
      "`SparkEntry.queries(name)(spark, sfDir)` and dumped by `graft.Verify`.\n" +
      "Oracle = the driver gate hash-compares rows/schema/values against DuckDB\n" +
      "at the driver SFs; the \"heavy replay\" column lists per-query sf1/sf10\n" +
      "attest records (census-wide sf1/sf10 runs are recorded in attest/ gate\n" +
      "records and BASELINE.md).\n\n"
    modules.foreach { case (mod, ds) =>
      if (ds.nonEmpty) {
        sb ++= s"## $mod (${ds.size})\n\n"
        sb ++= "| query | oracle | specs naming it | heavy replay |\n"
        sb ++= "|---|---|---|---|\n"
        ds.foreach { d =>
          val o = if (d.oracle.isDefined) "DuckDB" else "rows-only"
          val sp = specs.getOrElse(d.name, Nil) match {
            case Nil => "—"
            case s => s.mkString(", ")
          }
          val hv = heavy.getOrElse(d.name, Nil) match {
            case Nil => "—"
            case s => s.mkString(", ")
          }
          sb ++= s"| ${d.name} | $o | $sp | $hv |\n"
        }
        sb ++= "\n"
      }
    }
    val rows = graft.sources.IndexSpec.all
    sb ++= s"## Persisted indexes (${rows.size})\n\n"
    sb ++= "Every table `graft.sources.ServedIndex` serves, from `IndexSpec.all`;\n" +
      "each is `SparkEntry.indexes(name)(spark, sfDir)`. A layout change here\n" +
      "rebuilds every served copy (the stored fingerprint includes it).\n\n"
    sb ++= "| name | table | schema | bucketed by × buckets | fingerprint scope |\n"
    sb ++= "|---|---|---|---|---|\n"
    rows.foreach { r =>
      sb ++= s"| ${r.name} | ${r.table} | ${r.schema} | ${r.bucketCol} × ${r.buckets} " +
        s"| ${r.scope} |\n"
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    val out = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "CATALOG.md")
    java.nio.file.Files.writeString(out, render())
    println(s"[catalog] wrote $out (${SparkEntry.defs.size} queries)")
  }
}
