package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime

import graft.io.Fixtures

/** The fixture store serves a staged dir only while every file its build
  * left is still on disk, and its hard links fall back to copies. */
class FixturesSpec extends GraftSuite {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def regularFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter(Files.isRegularFile(_)).toArray.toSeq.map(_.asInstanceOf[Path])
    finally walk.close()
  }

  test("ccCorpusAndPairs re-stages a pairs fixture that lost a part file") {
    PipelineQueries.ccCorpusAndPairs(spark, sfDir)
    val parts = regularFiles(Fixtures.path(spark, sfDir, "ccpairs") + "/pairs")
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.nonEmpty)
    Files.delete(parts.head)
    val (_, pairs) = PipelineQueries.ccCorpusAndPairs(spark, sfDir)
    val staged = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val (_, fresh, sets) = PipelineQueries.mineCcCorpusAndPairs(spark, sfDir)
    val mined = fresh.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    sets.unpersist()
    assert(mined.nonEmpty)
    assert(staged == mined)
  }

  test("s_sessionize_stream re-stages its reaped base and sentinel files") {
    def run() = SparkEntry.queries("s_sessionize_stream")(spark, sfDir).collect().toSeq
    val before = run()
    Seq("stream-events", "stream-sentinels").foreach { name =>
      val files = regularFiles(Fixtures.path(spark, sfDir, name))
      assert(files.nonEmpty, name)
      files.foreach(Files.delete)
    }
    val after = run()
    assert(before.nonEmpty)
    assert(after == before)
  }

  test("p_dedup_incremental re-stages a reaped batch-0 store to the same survivors") {
    def run() = SparkEntry.queries("p_dedup_incremental")(spark, sfDir).as[Long].collect().toSeq
    val before = run()
    regularFiles(Fixtures.path(spark, sfDir, "exactstore")).foreach(Files.delete)
    val after = run()
    assert(before.nonEmpty)
    assert(after == before)
  }

  test("p_dedup_minhash_incremental re-stages a store that lost its part files") {
    def run() = SparkEntry.queries("p_dedup_minhash_incremental")(spark, sfDir)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(run().nonEmpty)
    val store = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(PipelineQueries.incStoreTable(spark, sfDir)))
    val parts = regularFiles(Paths.get(store.location).toString)
      .filter(_.getFileName.toString.startsWith("part-"))
    assert(parts.nonEmpty)
    parts.foreach(Files.delete)
    val after = run()
    val buckets = PipelineQueries.portableBandBuckets(
      PipelineQueries.docsWithNearDups(spark, sfDir)).cache()
    val fresh = PipelineQueries.incrementalKeepFromBuckets(spark, buckets)
      .as[(Long, Long)].collect().toSeq.sorted
    buckets.unpersist()
    assert(after == fresh)
  }

  test("linkOrCopy copies across filesystems, keeping the bytes and mtime") {
    val shm = Paths.get("/dev/shm")
    val src = Files.createTempFile("graft-fixtures", ".bin")
    try {
      assume(Files.isDirectory(shm) &&
        Files.getFileStore(src) != Files.getFileStore(shm),
        "needs java.io.tmpdir and /dev/shm on different filesystems")
      val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
      Files.write(src, bytes)
      Files.setLastModifiedTime(src, FileTime.fromMillis(1000000000000L))
      val dst = shm.resolve(s"graft-fixtures-${java.util.UUID.randomUUID()}.bin")
      try {
        Fixtures.linkOrCopy(src, dst)
        assert(!Files.isSameFile(src, dst))
        assert(Files.readAllBytes(dst).sameElements(bytes))
        assert(Files.getLastModifiedTime(dst) == Files.getLastModifiedTime(src))
      } finally Files.deleteIfExists(dst)
    } finally Files.deleteIfExists(src)
  }
}
