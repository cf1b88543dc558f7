package graft.queries

/** Per-JVM scratch directory for the staged fixture layouts
  * (`StreamStaging`, `IncrFixture`, `FormatFixture`): one directory in
  * `java.io.tmpdir`, created on first use and deleted by a shutdown hook,
  * like `GraftSession.local`'s scratch. Every JVM stages its own copies,
  * so a layout is always written by the code that reads it; the owners
  * memoize per (source dir, table fingerprint), so each layout is written
  * once per JVM.
  *
  * Layout: `<root>/<md5(dir)·12>/<kind>@<fp>`. A rewritten source table
  * has a new fingerprint, so its layout lands at a new path, and the
  * older generations of that kind are deleted first — repeated
  * regenerations in one session do not pile up corpus copies.
  */
private[graft] object StagingStore {

  /** The per-JVM root every staged layout lives under. */
  private[graft] lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-stage-")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.util.Fs.deleteRecursively(r)))
    r
  }

  /** True iff `p` is a path INSIDE [[root]] — the marker consumers
    * (e.g. StreamingPipeline's schema memo) key immutability decisions
    * on. Normalized prefix compare, not string `contains`.
    */
  private[graft] def isStorePath(p: String): Boolean =
    try java.nio.file.Paths.get(p).toAbsolutePath.normalize
      .startsWith(root.toAbsolutePath.normalize)
    catch { case _: java.nio.file.InvalidPathException => false }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Write the (dir, kind, fp) layout via `write` (given the path to
    * produce) and return that path. Any earlier generation of `kind` for
    * `dir` — a since-rewritten source, or a write that failed part-way —
    * is deleted first. Callers memoize the returned path.
    */
  def stage(dir: String, kind: String, fp: String)(
      write: String => Unit): String = {
    val parent = root.resolve(md5(dir).take(12))
    java.nio.file.Files.createDirectories(parent)
    import scala.jdk.CollectionConverters._
    val listing = java.nio.file.Files.list(parent)
    try listing.iterator.asScala.toSeq
      .filter(_.getFileName.toString.startsWith(s"$kind@"))
      .foreach(graft.util.Fs.deleteRecursively)
    finally listing.close()
    val p = parent.resolve(s"$kind@$fp").toString
    write(p)
    p
  }
}
