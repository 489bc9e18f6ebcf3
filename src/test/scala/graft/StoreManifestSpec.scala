package graft

import java.nio.file.Files

import graft.table.{Fs, StoreManifest}

/** The derived-store gate: [[StoreManifest.servable]] serves a part only
  * when it is stamped, finished (`_SUCCESS`), no older than every part it
  * was recorded as derived from, and pinned to the corpus's current file
  * set — and it reaches the store only through [[Fs]].
  */
class StoreManifestSpec extends SparkTestBase {

  /** A store root with finished (marker-only) part directories. */
  private def storeWith(parts: String*): String = {
    val store = Files.createTempDirectory("graft_gate").toString + "/store"
    parts.foreach(p => Fs.touch(s"$store/$p/_SUCCESS"))
    store
  }

  test("a part recorded as derived from another is refused once that other " +
      "part is bumped, until it is re-derived") {
    val store = storeWith("base", "derived", "other")
    StoreManifest.bump(store, Seq("base"))
    StoreManifest.bump(store, Seq("derived"), from = Seq("base"))
    assert(StoreManifest.servable(store, "derived").contains(s"$store/derived"))
    StoreManifest.bump(store, Seq("other"))
    assert(StoreManifest.servable(store, "derived").isDefined,
      "a part it was not derived from does not matter")
    StoreManifest.bump(store, Seq("base"))
    assert(StoreManifest.servable(store, "derived").isEmpty,
      "a derived part older than its source must be refused")
    assert(StoreManifest.servable(store, "base").isDefined)
    // a re-stamp that records no sources (a layout rewrite) keeps the
    // recorded ones: fresh again, and refused again on the next source bump
    StoreManifest.bump(store, Seq("derived"))
    assert(StoreManifest.servable(store, "derived").isDefined)
    StoreManifest.bump(store, Seq("base"))
    assert(StoreManifest.servable(store, "derived").isEmpty)
  }

  test("unstamped parts, unfinished parts, missing sources and a moved corpus " +
      "are refused") {
    val store = storeWith("a", "b")
    assert(StoreManifest.servable(store, "a").isEmpty, "no manifest, no trust")
    StoreManifest.bump(store, Seq("b"), from = Seq("a"))
    assert(StoreManifest.servable(store, "b").isEmpty,
      "a source that was never stamped is not older than anything")
    StoreManifest.bump(store, Seq("a"))
    StoreManifest.bump(store, Seq("b"), from = Seq("a"))
    assert(StoreManifest.servable(store, "b").isDefined)
    Fs.delete(s"$store/b/_SUCCESS")
    assert(StoreManifest.servable(store, "b").isEmpty, "an unfinished write")
    Fs.touch(s"$store/b/_SUCCESS")
    // the corpus pin: served for the corpus it was derived from, refused
    // once that corpus gains a file
    val corpus = Files.createTempDirectory("graft_gate_corpus").toString + "/c.parquet"
    spark.range(5).write.parquet(corpus)
    StoreManifest.bump(store, Seq("a"), corpus = Some(corpus))
    StoreManifest.bump(store, Seq("b"), from = Seq("a"))
    assert(StoreManifest.servable(store, "b", Some(corpus)).isDefined,
      "a later bump without a corpus keeps the pin")
    spark.range(5, 8).write.mode("append").parquet(corpus)
    assert(StoreManifest.servable(store, "b", Some(corpus)).isEmpty)
    assert(StoreManifest.servable(store, "b").isDefined,
      "a reader that names no corpus skips only the corpus check")
    // a single-file corpus (the shape of the bundled test tables): a
    // same-size rewrite is seen through its mtime
    val file = Files.createTempFile("graft_gate_corpus", ".parquet")
    Files.write(file, "abc".getBytes("UTF-8"))
    StoreManifest.bump(store, Nil, corpus = Some(file.toString))
    assert(StoreManifest.servable(store, "b", Some(file.toString)).isDefined)
    Files.write(file, "xyz".getBytes("UTF-8"))
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(file).toMillis + 10000L))
    assert(StoreManifest.servable(store, "b", Some(file.toString)).isEmpty)
  }

  test("a store rooted at a non-local filesystem path is served through Fs") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.mockcap.impl", classOf[MockCapFs].getName)
    hconf.setBoolean("fs.mockcap.impl.disable.cache", true)
    val store = storeWith("base", "derived")
    StoreManifest.bump(store, Seq("base"))
    StoreManifest.bump(store, Seq("derived"), from = Seq("base"))
    // the same store spelled with the mockcap scheme: every probe of the
    // gate (manifest, marker) must go through the Hadoop FileSystem seam
    val remote = s"mockcap:$store"
    assert(StoreManifest.servable(remote, "derived").contains(s"$remote/derived"))
    Fs.delete(s"$store/derived/_SUCCESS")
    assert(StoreManifest.servable(remote, "derived").isEmpty)
    assert(StoreManifest.servable(remote, "base").isDefined)
  }
}
