package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.ManifestTable
import graft.sources.ManifestTable.{Base, CommitPlan, DataFile, Ref}

/** The one commit verb, `ManifestTable.publish(dir, ref, v, plan)`, over
  * every ref × plan kind: the manifest lines it writes, the snapshot it
  * reads back against a plain key → value model, and the version check
  * that refuses a stale `v` without claiming anything. */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private type Model = Map[Long, Long]

  /** What one case commits and what it expects back. */
  private final case class Outcome(plan: CommitPlan, model: Model,
                                   checkLines: (Seq[String], Seq[String]) => Unit)

  /** v1: k = 1..100 (v = 10k) in four range files. v2: position deletes
    * of k % 25 == 1, merged by rewriteDeletes (v3) into ONE delete file
    * spanning several data files. */
  private def seedTable(): (String, Model) = {
    val dir = Files.createTempDirectory("graft_commit_path").toString + "/t"
    ManifestTable.commit((1L to 100L).map(k => (k, k * 10)).toDF("k", "v")
      .repartitionByRange(4, $"k"), dir, append = false)
    ManifestTable.deleteWhere(spark, dir, $"k" % 25 === 1)
    ManifestTable.rewriteDeletes(spark, dir)
    (dir, (1L to 100L).filter(_ % 25 != 1).map(k => k -> k * 10).toMap)
  }

  private def md(dir: String, ref: Ref): java.nio.file.Path = ref match {
    case Ref.Main => Paths.get(dir, "_manifests")
    case Ref.Branch(n) => Paths.get(dir, "_manifests", s"branch-$n")
  }

  private def lines(dir: String, ref: Ref, v: Int): Seq[String] =
    Files.readAllLines(md(dir, ref).resolve(s"v$v.list")).asScala.toSeq

  private def claimed(dir: String, ref: Ref): Set[String] =
    md(dir, ref).toFile.list().filter(_.matches("v\\d+\\.list")).toSet

  private def stage(rows: Seq[(Long, Long)], dataDir: String): Seq[String] = {
    rows.toDF("k", "v").coalesce(1).write.parquet(dataDir)
    ManifestTable.parquetFiles(dataDir)
  }

  private def readModel(dir: String, ref: Ref): Model =
    ManifestTable.read(spark, dir, ref = ref).select($"k", $"v").as[(Long, Long)]
      .collect().toMap

  private val refs = Seq(Ref.Main, Ref.Branch("b"))

  /** kind → (dir, ref, v, dataDir, head model) → outcome */
  private val kinds: Seq[(String, (String, Ref, Int, String, Model) => Outcome)] = Seq(
    "append" -> { (_, _, _, dataDir, m) =>
      val rows = (101L to 105L).map(k => (k, k))
      val files = stage(rows, dataDir)
      Outcome(CommitPlan(added = files.map(DataFile(_))), m ++ rows, { (prev, now) =>
        assert(now.take(prev.size) == prev, "prior lines must carry forward verbatim")
        assert(now.drop(prev.size).map(_.takeWhile(_ != '|')) == files.map(_ => "F"))
        assert(now.drop(prev.size).map(_.split('|')(1)) == files)
      })
    },
    "overwrite" -> { (_, _, _, dataDir, _) =>
      val rows = (500L to 502L).map(k => (k, k))
      val files = stage(rows, dataDir)
      Outcome(CommitPlan(Base.Empty, added = files.map(DataFile(_))), rows.toMap,
        { (_, now) => assert(now.map(_.split('|')(1)) == files && now.forall(_.startsWith("F|"))) })
    },
    "tagged" -> { (_, _, _, dataDir, m) =>
      val rows = (201L to 204L).map(k => (k, k))
      val files = stage(rows, dataDir)
      Outcome(CommitPlan(added = files.map(f => DataFile(f, Map("_ptn_bucket_k" -> (3.0, 3.0))))),
        m ++ rows, { (prev, now) =>
          assert(now.take(prev.size) == prev)
          val added = now.drop(prev.size)
          assert(added.size == files.size &&
            added.forall(l => l.startsWith("F|") && l.contains("_ptn_bucket_k:3.0:3.0")))
        })
    },
    "delta" -> { (_, _, _, dataDir, m) =>
      val delFiles = {
        Seq(2L, 3L, 50L).toDF("k").coalesce(1).write.parquet(s"$dataDir/del")
        ManifestTable.parquetFiles(s"$dataDir/del")
      }
      val rows = Seq((2L, 999L), (300L, 3L))
      val rowFiles = stage(rows, s"$dataDir/rows")
      Outcome(CommitPlan(added = rowFiles.map(DataFile(_)), eqDeletes = Some("k" -> delFiles)),
        m -- Seq(2L, 3L, 50L) ++ rows, { (prev, now) =>
          assert(now.take(prev.size) == prev)
          val added = now.drop(prev.size)
          assert(added.take(delFiles.size) == delFiles.map(f => s"D|k|$f"))
          assert(added.drop(delFiles.size).map(_.split('|')(1)) == rowFiles)
        })
    },
    "cow" -> { (dir, ref, v, dataDir, m) =>
      // replace the data file holding k = 2; the spanning position delete
      // also pins rows in files that survive
      val datas = ManifestTable.sqlEntriesAt(dir, v - 1, ref).filter(_.isData)
      val target = datas.find(_.stats.get("k").exists { case (lo, hi) => lo <= 2 && 2 <= hi }).get
      val (lo, hi) = target.stats("k")
      val rewritten = m.filter { case (k, _) => k >= lo && k <= hi }
        .map { case (k, x) => (k, x + 1000) }.toSeq
      val files = stage(rewritten, s"$dataDir/cow")
      Outcome(CommitPlan(replaced = Set(target.path), added = files.map(DataFile(_))),
        m ++ rewritten, { (prev, now) =>
          val oldPos = prev.filter(_.startsWith("P|"))
          assert(oldPos.size == 1, s"the seed must carry one spanning delete file: $prev")
          assert(!now.exists(_.contains(target.path)), "the replaced file must leave")
          assert(!now.exists(oldPos.contains), "the spanning delete file must be rewritten")
          val newPos = now.filter(_.startsWith("P|"))
          assert(newPos.size == 1 && newPos.head.contains(s"$dataDir/posrw-"),
            s"one rewritten delete file under the commit dir: $newPos")
          prev.filterNot(l => l.startsWith("P|") || l.contains(target.path))
            .foreach(l => assert(now.contains(l), s"unchanged line not carried: $l"))
          assert(now.takeRight(files.size).map(_.split('|')(1)) == files)
        })
    },
    "lines" -> { (dir, _, _, _, _) =>
      // verbatim lines, as RTAS and rollback publish them: main's v1
      val v1 = lines(dir, Ref.Main, 1)
      Outcome(CommitPlan(Base.Lines(v1)), (1L to 100L).map(k => k -> k * 10).toMap,
        { (_, now) => assert(now == v1) })
    })

  for (ref <- refs; (kind, build) <- kinds)
    test(s"publish on $ref: $kind — manifest lines, read = model, stale v refused") {
      val (dir, seeded) = seedTable()
      ref match {
        case Ref.Branch(n) => ManifestTable.createBranch(dir, n): Unit
        case Ref.Main =>
      }
      val (v, dataDir) = ManifestTable.nextCommit(dir, ref)
      val prev = lines(dir, ref, v - 1)
      val out = build(dir, ref, v, dataDir, seeded)
      assert(ManifestTable.publish(dir, ref, v, out.plan) == v)
      out.checkLines(prev, lines(dir, ref, v))
      assert(readModel(dir, ref) == out.model)
      if (ref != Ref.Main) assert(ManifestTable.currentVersion(dir) == 3, "main must not move")

      // a writer that planned against an older head, or skips ahead,
      // is refused before anything is claimed
      val before = claimed(dir, ref)
      Seq(v, v + 2).foreach { stale =>
        intercept[ManifestTable.CommitConflictException] {
          ManifestTable.publish(dir, ref, stale, out.plan)
        }
      }
      assert(claimed(dir, ref) == before)
      assert(readModel(dir, ref) == out.model)
    }
}
