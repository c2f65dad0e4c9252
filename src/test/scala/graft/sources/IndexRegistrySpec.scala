package graft.sources

import org.scalatest.funsuite.AnyFunSuite

/** Guards the persisted-index registry: every served table is one
  * [[IndexSpec]] row in [[IndexSpec.all]], and no two key spaces that
  * must stay apart share a key. No SparkSession — rows are pure data
  * until applied. */
class IndexRegistrySpec extends AnyFunSuite {

  test("registry names, tables and index-vs-gate keys are each unique") {
    // Two rows sharing a dir (or a table) would swing each other's
    // _graft_meta pointer; an index key equal to a gate name would share
    // Bench's carry-over key space (ADVICE r15).
    val keySpaces = Seq(
      "index name" -> IndexSpec.all.map(_.name),
      "index table" -> IndexSpec.all.map(_.table),
      "index-or-gate key" ->
        (graft.SparkEntry.indexes.keys.toSeq ++ graft.SparkEntry.queries.keys))
    keySpaces.foreach { case (what, keys) =>
      val dup = keys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
      assert(dup.isEmpty, s"duplicate $what: ${dup.mkString(", ")}")
    }
  }

  test("every IndexSpec a module declares is registered") {
    val modules = graft.SparkEntry.moduleDefs.map(_._1)
    val declared = modules.flatMap { m =>
      val cls = Class.forName(m + "$")
      val obj = cls.getField("MODULE$").get(null)
      cls.getDeclaredMethods.toSeq
        .filter(f => f.getParameterCount == 0 &&
          f.getReturnType == classOf[IndexSpec])
        .map { f => f.setAccessible(true); s"$m.${f.getName}" -> f.invoke(obj) }
    }
    assert(declared.size == IndexSpec.all.size)
    val missing = declared.collect {
      case (n, r) if !IndexSpec.all.exists(_ eq r) => n }
    assert(missing.isEmpty, s"declared but not in IndexSpec.all: $missing")
  }

  test("only IndexSpec calls ServedIndex's build-or-serve entry points") {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      finally walk.close()
    val call = "ServedIndex(\\.cached)?\\(".r
    val callers = files.filter(p => call.findFirstIn(
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).isDefined)
    assert(callers.map(_.getFileName.toString) == Seq("IndexSpec.scala"),
      s"ServedIndex build-or-serve called outside IndexSpec: $callers")
  }
}
