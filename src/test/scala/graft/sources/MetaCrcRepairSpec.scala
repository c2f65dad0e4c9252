package graft.sources

import graft.SparkSuite

/** The `_graft_meta` pointer is ONE file: written and renamed through
  * the raw (non-checksummed) FileSystem, with its torn-read detection
  * inside it — a fourth line holding the CRC32 of the three fields.
  * Sequential publishes round-trip; a `.crc` sibling (the residue of
  * the checksummed format) is never consulted; a corrupted pointer
  * reads as None, and the next serve rebuilds instead of serving. */
class MetaCrcRepairSpec extends SparkSuite {

  private def hfs(root: org.apache.hadoop.fs.Path) =
    root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tempRoot(prefix: String) = new org.apache.hadoop.fs.Path(
    java.nio.file.Files.createTempDirectory(prefix).toUri)

  private def metaFile(root: org.apache.hadoop.fs.Path) =
    new java.io.File(new java.io.File(root.toUri), "_graft_meta")

  test("sequential publishes keep the pointer checksum-consistent") {
    val root = tempRoot("meta_crc")
    val fs = hfs(root)
    ServedIndex.writeMeta(fs, root, "v1", "", "fp1")
    assert(ServedIndex.readMeta(fs, root).contains(("v1", "", "fp1")))
    ServedIndex.writeMeta(fs, root, "v2", "v1", "fp2")
    assert(ServedIndex.readMeta(fs, root).contains(("v2", "v1", "fp2")))
    // one file: no checksum sibling, no temp file left behind
    assert(new java.io.File(root.toUri).list().toSeq == Seq("_graft_meta"))
  }

  test("a planted stale ._graft_meta.crc is ignored") {
    val root = tempRoot("meta_crc2")
    val fs = hfs(root)
    ServedIndex.writeMeta(fs, root, "v1", "", "fp1")
    // a checksum sibling for DIFFERENT bytes: a checksummed open of the
    // pointer would throw ChecksumException on it
    java.nio.file.Files.write(
      new java.io.File(new java.io.File(root.toUri), "._graft_meta.crc").toPath,
      "planted-bogus-crc".getBytes("UTF-8"))
    assert(ServedIndex.readMeta(fs, root).contains(("v1", "", "fp1")))
    ServedIndex.writeMeta(fs, root, "v3", "v1", "fp3")
    assert(ServedIndex.readMeta(fs, root).contains(("v3", "v1", "fp3")))
  }

  test("a flipped byte reads as None and the next serve rebuilds") {
    val dir = "meta_flip"
    val tbl = "meta_flip"
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(s"target/graft-index/$dir"))
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    var builds = 0
    def serve() = ServedIndex(spark, tbl, dir, "corpusF", "k BIGINT", "k", 2) {
      builds += 1
      spark.range(10).toDF("k")
    }
    assert(serve().count() == 10 && builds == 1)
    val root = ServedIndex.rootPath(dir)
    val fs = hfs(root)
    val (active, _, _) = ServedIndex.readMeta(fs, root).get

    // flip one byte of the fingerprint line: still three fields and a
    // fourth line, but the checksum no longer matches
    val f = metaFile(root).toPath
    val bytes = java.nio.file.Files.readAllBytes(f)
    val at = new String(bytes, "UTF-8").indexOf("corpusF")
    bytes(at) = (bytes(at) ^ 0x01).toByte
    java.nio.file.Files.write(f, bytes)
    assert(ServedIndex.readMeta(fs, root).isEmpty,
      "a pointer whose checksum line disagrees must not parse")

    assert(serve().count() == 10)
    assert(builds == 2, "the serve after a corrupted pointer must rebuild")
    val (active2, _, fp2) = ServedIndex.readMeta(fs, root).get
    assert(active2 != active && fp2.startsWith("corpusF|"))
  }
}
