package graft.io

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.SparkSession

/** The one owner of on-disk fixtures and scratch dirs under
  * java.io.tmpdir: naming, reuse, revalidation and JVM-exit cleanup.
  *
  * A staged fixture is a deterministic function of (Spark application,
  * dataset dir, name), built once and served to every later call. The
  * store remembers the regular files a build left behind and serves the
  * dir only while every one of them is still on disk: a tmp reaper in a
  * long-lived session makes the next call rebuild it instead of reading a
  * partial artifact. Every dir handed out is deleted when the JVM exits
  * (bench, verify and spec runs would otherwise each leave their staged
  * parquet behind). */
object Fixtures {

  private val tmp = Paths.get(System.getProperty("java.io.tmpdir"))

  /** The files a fixture held when its build returned; `None` until built.
    * Guarded by the entry's own monitor. */
  private final class Entry { var files: Option[Seq[Path]] = None }

  // one lock per key, not one `compute` over a shared map: a build may
  // stage another fixture, which `ConcurrentHashMap.compute` rejects as a
  // recursive update
  private val entries = new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  private val registered = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
  private val hooked = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The dir fixture `name` over dataset `sfDir` occupies for this Spark
    * application, registered for deletion at JVM exit. Callers that
    * rewrite their artifact on every call use it directly; [[staged]]
    * builds it once. */
  def path(spark: SparkSession, sfDir: String, name: String): String =
    track(tmp.resolve(s"graft-$name-${spark.sparkContext.applicationId}-" +
      sfDir.replaceAll("[^A-Za-z0-9.-]", "_"))).toString

  /** The fixture dir for (this app, `sfDir`, `name`): `build` fills it on
    * the first call, and again whenever a file it left has since vanished
    * (the dir is wiped first). `build` receives the existing, empty dir. */
  def staged(spark: SparkSession, sfDir: String, name: String)(build: String => Unit): String = {
    val dir = path(spark, sfDir, name)
    val entry = entries.computeIfAbsent(dir, _ => new Entry)
    entry.synchronized {
      if (!entry.files.exists(_.forall(Files.isRegularFile(_)))) {
        entry.files = None
        val p = Paths.get(dir)
        deleteRecursively(p)
        Files.createDirectories(p)
        build(dir)
        entry.files = Some(regularFiles(p))
      }
    }
    dir
  }

  /** A fresh per-call dir under java.io.tmpdir, deleted at JVM exit. */
  def scratch(prefix: String): String =
    track(Files.createTempDirectory(tmp, prefix)).toString

  /** Hard-link `src` at `dst`, or copy it where the filesystem cannot
    * link (another device, no link support). The copy keeps mtime: file
    * streams ingest in modification-time order. */
  def linkOrCopy(src: Path, dst: Path): Unit =
    try Files.createLink(dst, src)
    catch {
      case _: FileSystemException | _: UnsupportedOperationException =>
        Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  private def track(dir: Path): Path = {
    registered.add(dir)
    if (hooked.compareAndSet(false, true)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        registered.forEach { p =>
          // NonFatal, not IOException: Files.walk throws
          // UncheckedIOException when entries vanish mid-walk — that must
          // not abort the sweep of the other dirs
          try deleteRecursively(p)
          catch { case scala.util.control.NonFatal(_) => }
        }
      }, "graft-fixture-cleanup"))
    }
    dir
  }

  private def regularFiles(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try {
      val out = Seq.newBuilder[Path]
      walk.filter(Files.isRegularFile(_)).forEach(p => out += p)
      out.result()
    } finally walk.close()
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
}
