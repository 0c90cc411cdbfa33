package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Static guards over `src/main/scala` for three shapes that used to
  * multiply by copy-paste:
  *  - a private recursive `java.io.File` delete; the one delete is
  *    `ManifestTable.rmTree`;
  *  - a query face building its own `java.io.tmpdir` path instead of
  *    calling `graft.queries.Scratch.dir`;
  *  - a one-off `main` whose claim no test checks: evidence belongs in a
  *    spec, and only the listed entry points keep a `main`.
  */
class SourceLintSpec extends AnyFunSuite {

  private val Root = new File("src/main/scala")
  private val MainAllowed =
    Set("Bench", "Verify", "PlanDump", "ProfileQuery", "PipelineDemo", "StreamingDemo")

  private def scalaFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(scalaFiles)
    else if (f.getName.endsWith(".scala")) Seq(f) else Nil

  private lazy val sources: Seq[(String, String)] = {
    assert(Root.isDirectory, s"run from the repository root: ${Root.getAbsolutePath} missing")
    scalaFiles(Root).map { f =>
      Root.toPath.relativize(f.toPath).toString.replace('\\', '/') ->
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    }
  }

  private def lineOf(text: String, idx: Int): Int = text.substring(0, idx).count(_ == '\n') + 1

  private val FileDef = """def (\w+)\((\w+): (?:java\.io\.)?File\)""".r

  /** `def f(x: File)` whose first lines both recurse through `f` and
    * delete `x` as a statement of its own (not under an `if`): the shape
    * of a whole-tree delete. A selective sweep (vacuum) deletes only
    * under a condition and does not match. */
  private def recursiveDeletes(text: String): Seq[(String, Int)] =
    FileDef.findAllMatchIn(text).flatMap { m =>
      val (name, param) = (m.group(1), m.group(2))
      val body = text.substring(m.end).linesIterator.take(4).mkString("\n")
      val recurses = body.contains(s"foreach($name)") || body.contains(s"foreach($name _)")
      val deletes = (raw"(?m)(?:^|[;{])\s*" + param + raw"\.delete\(\)").r.findFirstIn(body).isDefined
      if (recurses && deletes) Some(name -> lineOf(text, m.start)) else None
    }.toSeq ++
      raw"Files\.walk\([^\n]*(?:\n[^\n]*){0,2}delete".r.findAllMatchIn(text)
        .map(m => "Files.walk" -> lineOf(text, m.start))

  test("the recursive-delete detector sees the copied shapes and not a selective sweep") {
    val copies =
      """def rm(f: java.io.File): Unit = {
        |  Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(): Unit }
        |private def rmf(d: File): Unit = {
        |  Option(d.listFiles()).toSeq.flatten.foreach(rmf)
        |  d.delete(): Unit
        |}
        |Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        |  .forEach(Files.delete(_))""".stripMargin
    assert(recursiveDeletes(copies).map(_._1) == Seq("rm", "rmf", "Files.walk"))
    val sweep =
      """def sweep(f: java.io.File): Unit =
        |  if (f.isDirectory) {
        |    Option(f.listFiles()).toSeq.flatten.foreach(sweep)
        |    if (Option(f.listFiles()).exists(_.isEmpty)) f.delete(): Unit
        |  } else if (old(f)) { if (f.delete()) n += 1 }""".stripMargin
    assert(recursiveDeletes(sweep).isEmpty)
  }

  test("src/main holds no recursive delete other than ManifestTable.rmTree") {
    val found = for {
      (path, text) <- sources
      (name, line) <- recursiveDeletes(text)
      if !(path == "graft/sources/ManifestTable.scala" && name == "rmTree")
    } yield s"$path:$line ($name)"
    assert(sources.exists(_._1 == "graft/sources/ManifestTable.scala") &&
      recursiveDeletes(sources.toMap.apply("graft/sources/ManifestTable.scala"))
        .exists(_._1 == "rmTree"), "ManifestTable.rmTree not found: the detector is blind")
    assert(found.isEmpty, s"call ManifestTable.rmTree instead:\n${found.mkString("\n")}")
  }

  test("graft/queries reads java.io.tmpdir only in Scratch") {
    val found = for {
      (path, text) <- sources
      if path.startsWith("graft/queries/") && path != "graft/queries/Scratch.scala"
      m <- "java.io.tmpdir".r.findAllMatchIn(text)
    } yield s"$path:${lineOf(text, m.start)}"
    assert(found.isEmpty, s"use Scratch.dir(tag, dir):\n${found.mkString("\n")}")
  }

  test("only the listed entry points define a main") {
    val Obj = raw"\bobject (\w+)".r
    val mains = for {
      (path, text) <- sources
      m <- raw"\bdef main\(|\bextends App\b".r.findAllMatchIn(text)
    } yield {
      val owner = Obj.findAllMatchIn(text.substring(0, m.end)).toSeq.lastOption
        .map(_.group(1)).getOrElse("?")
      owner -> s"$path:${lineOf(text, m.start)} ($owner)"
    }
    assert(mains.exists(_._1 == "Bench"), "graft.Bench's main not found: the detector is blind")
    val extra = mains.filterNot(m => MainAllowed(m._1)).map(_._2)
    assert(extra.isEmpty, s"pin the claim in a spec instead:\n${extra.mkString("\n")}")
  }
}
