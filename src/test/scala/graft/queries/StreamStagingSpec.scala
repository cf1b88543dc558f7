package graft.queries

import graft.{SparkSpec, Tables, TempDirs}

/** Pins the StreamStaging contracts: (1) the memo key fingerprints each
  * layout's SOURCE table, so a mid-session events rewrite restages
  * events-derived layouts (and does NOT restage documents-derived ones);
  * (2) evicting a stale generation deletes its staged directory, not
  * just its cache entry — repeated corpus regenerations must not
  * accumulate corpus-sized orphans under tmpdir; (3) every staged
  * fixture lands under the per-JVM StagingStore root, never in a
  * directory that outlives the JVM.
  */
class StreamStagingSpec extends SparkSpec {

  test("events rewrite restages events layouts and deletes the evicted dir") {
    val dir = TempDirs.create("graft-staging-sf")
    def writeEvents(n: Int): Unit =
      Tables.table(spark, sf0001, "events").limit(n)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
    Tables.table(spark, sf0001, "documents").limit(20)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    writeEvents(100)
    val ev1 = StreamStaging.dir(spark, dir, "events8range")
    val docs1 = StreamStaging.dir(spark, dir, "docs8")
    assert(new java.io.File(ev1).exists, "first generation must stage")

    // mid-session source rewrite: only the events table changes
    writeEvents(60)
    val ev2 = StreamStaging.dir(spark, dir, "events8range")
    assert(ev2 != ev1,
      "events-derived layout must restage after an events rewrite")
    assert(new java.io.File(ev2).exists)
    assert(!new java.io.File(ev1).exists,
      "the evicted generation's staged directory must be deleted")
    assert(spark.read.parquet(ev2).count() == 60,
      "the restaged layout must serve the rewritten source")

    // documents untouched -> the documents-derived layout keeps its
    // staged generation (no spurious restaging, no wasted corpus copy)
    val docs2 = StreamStaging.dir(spark, dir, "docs8")
    assert(docs2 == docs1,
      "documents-derived layout must not restage on an events rewrite")
    assert(new java.io.File(docs1).exists)
  }

  test("every staged fixture lies under the per-JVM root") {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    // the stores that used to outlive the JVM were tmpdir/graft_<name>_store:
    // no such directory, nor anything inside one, may appear any more
    def listing(): Set[String] = {
      import scala.jdk.CollectionConverters._
      def walk(d: java.nio.file.Path): Seq[String] = {
        val w = java.nio.file.Files.walk(d)
        try w.iterator.asScala.map(_.toString).toSeq finally w.close()
      }
      val top = java.nio.file.Files.list(tmp)
      try top.iterator.asScala.toSeq
        .filter(_.getFileName.toString.startsWith("graft_"))
        .flatMap(walk).toSet
      finally top.close()
    }
    // a fresh source dir, so every layout below is really written here
    // (the memo may already hold sf0001's from an earlier spec)
    val dir = TempDirs.create("graft-staging-root")
    Seq("documents", "events", "embeddings").foreach { t =>
      val (src, dst) = (new java.io.File(s"$sf0001/$t.parquet"),
        new java.io.File(s"$dir/$t.parquet"))
      if (src.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(src, dst)
      else org.apache.commons.io.FileUtils.copyFile(src, dst)
    }
    val before = listing()

    val root = StagingStore.root
    def under(p: String): Boolean = java.nio.file.Paths.get(p)
      .toAbsolutePath.normalize.startsWith(root.toAbsolutePath.normalize)
    val staged =
      Seq("docs8", "events8range", "events8sentinel", "cdc8", "emb8")
        .map(k => k -> StreamStaging.dir(spark, dir, k)) ++
      IncrFixture.paths(spark, dir).map("incr24" -> _) ++
      Seq("csv", "json", "orc", "part")
        .map(f => f -> FormatFixture.path(spark, dir, f))
    assert(staged.size >= 10)
    staged.foreach { case (kind, p) =>
      assert(under(p), s"$kind staged outside $root: $p")
      assert(new java.io.File(p).exists, s"$kind not staged: $p")
      assert(StagingStore.isStorePath(p))
    }
    assert(root.toAbsolutePath.normalize
      .startsWith(tmp.toAbsolutePath.normalize),
      s"root $root is not in java.io.tmpdir")
    assert(listing() == before,
      "staging must not write into the cross-JVM tmpdir stores")
  }
}
