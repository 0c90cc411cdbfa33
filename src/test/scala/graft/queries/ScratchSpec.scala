package graft.queries

import java.io.File
import java.nio.file.Files

import graft.{SparkEntry, SparkSpec}
import graft.sources.ManifestTable

/** `Scratch.dir`: every query face's scratch directory comes from it, so
  * it alone decides what a face finds on disk before it writes. */
class ScratchSpec extends SparkSpec {

  private val tmp = new File(sys.props("java.io.tmpdir"))
  private val pid = ProcessHandle.current().pid()

  /** A data-dir key no face uses, so the spec never touches a face's dirs. */
  private def freshKey(): String = s"scratch-spec-${System.nanoTime()}"
  private def nameOf(tag: String, key: String): String =
    s"graft_${tag}_${Integer.toHexString(key.hashCode)}"
  private def filled(f: File): File = {
    Files.createDirectories(f.toPath.resolve("sub"))
    Files.write(f.toPath.resolve("sub/part-0.parquet"), Array[Byte](1, 2, 3))
    f
  }

  test("dir returns a PID-suffixed path that does not exist, even after the last call's dir was filled") {
    val key = freshKey()
    val first = Scratch.dir("qspec", key)
    try {
      assert(first == new File(tmp, s"${nameOf("qspec", key)}_p$pid").getPath)
      assert(!new File(first).exists())
      filled(new File(first))
      val second = Scratch.dir("qspec", key)
      assert(second == first)
      assert(!new File(second).exists(), "a filled scratch dir survived the next call")
    } finally ManifestTable.rmTree(new File(first))
  }

  test("dir sweeps dead-PID siblings and the pre-PID exact-name dir, keeps live and other-tag dirs") {
    val key = freshKey()
    val name = nameOf("q270", key)
    val dead = filled(new File(tmp, s"${name}_p${Long.MaxValue}"))
    val legacy = filled(new File(tmp, name))
    val parentPid = ProcessHandle.current().parent().get().pid()
    val live = filled(new File(tmp, s"${name}_p$parentPid"))
    // q27 shares q270's prefix; its dead-PID and legacy dirs belong to q27
    val otherDead = filled(new File(tmp, s"${nameOf("q27", key)}_p${Long.MaxValue}"))
    val otherLegacy = filled(new File(tmp, nameOf("q27", key)))
    try {
      val own = Scratch.dir("q270", key)
      assert(!dead.exists(), "dead-PID sibling not swept")
      assert(!legacy.exists(), "pre-PID exact-name dir not swept")
      assert(live.exists(), "a live process's dir was swept")
      assert(otherDead.exists() && otherLegacy.exists(), "a prefix-sharing tag's dirs were swept")
      assert(!new File(own).exists())
    } finally Seq(dead, legacy, live, otherDead, otherLegacy).foreach(ManifestTable.rmTree)
  }

  test("q270 and q88 answer the same on a second call in one session") {
    for (q <- Seq("q270_time_travel", "q88_sized_write_roundtrip")) {
      val face = SparkEntry.queries(q)
      val first = face(spark, "/root/testdata/sf0.01").collect().toSeq
      val second = face(spark, "/root/testdata/sf0.01").collect().toSeq
      assert(first.nonEmpty, s"$q returned no rows")
      assert(second == first, s"$q changed on its second call")
    }
  }
}
