package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.sources.ManifestTable
import graft.sources.v2.GraftCatalog

/** Writes beside reads on one growing keyed manifest table, all through
  * the `GraftCatalog` SQL surface, so the commit protocol and metadata path
  * dominate. Per round: one change batch (INSERT, MERGE INTO, DELETE FROM
  * = the write op), then one query set (stats-pruned range SELECT,
  * group-by aggregate, time-travel read) right after the commit
  * (plan-memo miss = the read op) and again on the unchanged snapshot
  * (memo hit, its own kind). Every second round compacts and expires
  * (its own kind). Seed data is generated from the seed: an orders-like
  * table of 40 000 rows. */
final class LakehouseCycle(seed: Long, seconds: Int) extends Workload {
  val name = "lakehouse_cycle"
  /** One round takes ~10 s in a fresh JVM on a 4-vCPU host. */
  val rounds: Int = math.max(2, math.round(seconds / 10.0).toInt)
  private val seedRows = 40000
  private val insertRows = 1500
  private val mergeUpdates = 300
  private val mergeInserts = 100
  private val deleteWidth = 80
  private val compactEvery = 2
  private val expireKeep = 10

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false), StructField("day", IntegerType),
    StructField("cust", LongType), StructField("amount", LongType), StructField("status", StringType)))
  private var catalog: String = _
  private var dir: String = _
  private var plan: LakePlan = _
  private val model = mutable.HashMap[Long, LakeRow]()
  /** (count, sum(amount)) of every committed version the run knows. */
  private val versionAgg = mutable.HashMap[Int, (Long, Long)]()
  private var rows = 0L
  private val scanned = mutable.ArrayBuffer[Int]()

  private def t = s"$catalog.ns.orders"

  def setup(ctx: Ctx, d: Path, rep: Int): Unit = {
    val spark = ctx.spark
    catalog = s"perfbench_lake$rep"
    spark.conf.set(s"spark.sql.catalog.$catalog", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catalog.warehouse", d.toString)
    dir = d.resolve("ns").resolve("orders").toString
    plan = new LakePlan(seed, seedRows, rounds, insertRows, mergeUpdates, mergeInserts, deleteWidth)
    def view(name: String, rs: Seq[(Long, LakeRow)]): Unit =
      spark.createDataFrame(rs.map { case (k, r) => Row(k, r.day, r.cust, r.amount, r.status) }.asJava, schema)
        .createOrReplaceTempView(name)
    view(s"perfbench_seed", plan.initial)
    plan.batches.zipWithIndex.foreach { case (b, i) =>
      view(s"perfbench_ins_$i", b.inserts)
      view(s"perfbench_mrg_$i", b.merges)
    }
    spark.sql(s"CREATE TABLE $t (k BIGINT, day INT, cust BIGINT, amount BIGINT, status STRING) " +
      "TBLPROPERTIES('write.key'='k')")
    spark.sql(s"INSERT INTO $t SELECT * FROM perfbench_seed ORDER BY k")
    model.clear(); versionAgg.clear()
    model ++= plan.initial
    versionAgg(ManifestTable.currentVersion(dir)) = LakeModel.agg(model)
    rows = 0; scanned.clear()
  }

  def inputDigest: String = Stats.sha256(
    (plan.initial.iterator ++ plan.batches.iterator.flatMap(b => b.inserts ++ b.merges)).map(_.toString) ++
      plan.batches.iterator.map(b => s"delete ${b.deleteFrom}"))

  /** The three queries of the read set, with what the model expects. */
  private def querySet(i: Int, tv: Int): Seq[(String, Seq[Row] => Seq[String])] = {
    val lo = plan.batches(i).rangeFrom
    val hi = lo + 2000
    Seq(
      s"SELECT count(*), sum(amount) FROM $t WHERE k >= $lo AND k < $hi" ->
        (rs => LakeCheck.agg(s"range [$lo,$hi) round $i", rs, LakeModel.agg(model.filter(e => e._1 >= lo && e._1 < hi)))),
      s"SELECT status, count(*), sum(amount), sum(k * 7 + day * 17 + cust * 19 + amount * 13) FROM $t GROUP BY status" ->
        (rs => LakeCheck.groups(s"group-by round $i", rs, LakeModel.groups(model))),
      s"SELECT count(*), sum(amount) FROM $t VERSION AS OF $tv" ->
        (rs => LakeCheck.agg(s"time travel v$tv round $i", rs, versionAgg(tv))))
  }

  /** Runs the read set; returns each query's rows with its check, which
    * the caller applies outside the timed op. */
  private def runReads(ctx: Ctx, i: Int, tv: Int): Seq[(Seq[Row], Seq[Row] => Seq[String])] =
    querySet(i, tv).zipWithIndex.map { case ((sql, check), qi) =>
      val df = ctx.span("manifest.read_plan") { val d = ctx.spark.sql(sql); d.queryExecution.executedPlan; d }
      if (qi == 0 && ctx.trace.isDefined) scanned += GraftCatalog.scannedFiles(df).size
      (ctx.span("manifest.read_exec")(df.collect().toSeq), check)
    }

  def round(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val b = plan.batches(i)
    // time travel goes two rounds back (the seed version in the first two
    // rounds), inside the expire horizon
    val tv = versionAgg.keys.toSeq.sorted.reverse.drop(2).headOption.getOrElse(versionAgg.keys.min)
    ctx.op("write") {
      ctx.span("manifest.insert")(spark.sql(s"INSERT INTO $t SELECT * FROM perfbench_ins_$i"))
      ctx.span("manifest.merge")(spark.sql(
        s"""MERGE INTO $t t USING perfbench_mrg_$i s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""".stripMargin))
      ctx.span("manifest.delete")(spark.sql(
        s"DELETE FROM $t WHERE k >= ${b.deleteFrom} AND k < ${b.deleteFrom + deleteWidth}"))
    }.foreach { _ =>
      rows += b.inserts.size + b.merges.size + deleteWidth
      model ++= b.inserts
      model ++= b.merges
      (b.deleteFrom until b.deleteFrom + deleteWidth).foreach(model.remove)
      versionAgg(ManifestTable.currentVersion(dir)) = LakeModel.agg(model)
    }
    Seq("read", "read_memo_hit").foreach { kind =>
      ctx.op(kind)(runReads(ctx, i, tv)).foreach(_.foreach { case (got, check) => ctx.checkAll(check(got)) })
    }
    if (i % compactEvery == compactEvery - 1) {
      val filesBefore = ManifestTable.fileCount(dir)
      ctx.op("maintenance") {
        ctx.span("manifest.compact")(spark.sql(s"CALL $catalog.system.compact('ns.orders', 4)").collect())
        spark.sql(s"CALL $catalog.system.expire('ns.orders', $expireKeep)").collect()
      }.foreach { _ =>
        val v = ManifestTable.currentVersion(dir)
        versionAgg(v) = LakeModel.agg(model)
        versionAgg.keys.filter(_ <= v - expireKeep).toSeq.foreach(versionAgg.remove)
        val filesAfter = ManifestTable.fileCount(dir)
        ctx.check(filesAfter <= filesBefore,
          s"lakehouse_cycle: compaction raised live files $filesBefore -> $filesAfter")
        val g = spark.sql(s"SELECT status, count(*), sum(amount), " +
          s"sum(k * 7 + day * 17 + cust * 19 + amount * 13) FROM $t GROUP BY status").collect().toSeq
        ctx.checkAll(LakeCheck.groups(s"after compaction round $i", g, LakeModel.groups(model)))
      }
    }
  }

  def rowsProcessed: Long = rows

  def finalChecks(ctx: Ctx): Seq[String] =
    LakeCheck.content("final table", ctx.spark.sql(s"SELECT * FROM $t").collect().toSeq, model)

  def storedDirs: Seq[Path] = Seq(java.nio.file.Paths.get(dir))
  def liveRows: Long = model.size.toLong

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.trace.get
    val md = java.nio.file.Paths.get(dir)
    val dataBytes = Stats.dirBytes(md.resolve("data"))
    Map(
      "manifest.insert_ms" -> tr.layerMean("manifest.insert"),
      "manifest.merge_ms" -> tr.layerMean("manifest.merge"),
      "manifest.delete_ms" -> tr.layerMean("manifest.delete"),
      "manifest.read_plan_ms" -> tr.layerMean("manifest.read_plan"),
      "manifest.read_exec_ms" -> tr.layerMean("manifest.read_exec"),
      "manifest.files_scanned_per_read" -> (if (scanned.isEmpty) 0.0 else scanned.sum.toDouble / scanned.size),
      "manifest.compact_ms" -> tr.layerMean("manifest.compact"),
      "manifest.live_files" -> ManifestTable.fileCount(dir).toDouble,
      "manifest.versions" -> Option(md.resolve("_manifests").toFile.list()).toSeq.flatten
        .count(_.matches("v\\d+\\.list")).toDouble,
      "manifest.metadata_bytes" -> (Stats.dirBytes(md) - dataBytes).toDouble)
  }
}

final case class LakeRow(day: Int, cust: Long, amount: Long, status: String)

/** One round's staged change batch and read parameters. */
final case class LakeBatch(inserts: Seq[(Long, LakeRow)], merges: Seq[(Long, LakeRow)],
                           deleteFrom: Long, rangeFrom: Long)

/** Seeded plan of the whole run: the seed table and every round's batch. */
final class LakePlan(seed: Long, seedRows: Int, rounds: Int, insertRows: Int,
                     mergeUpdates: Int, mergeInserts: Int, deleteWidth: Int) {
  private val rnd = new scala.util.Random(seed * 31 + 7)
  private val statuses = Vector("open", "shipped", "billed", "returned", "closed")
  private var nextKey = 1L
  private def row(day: Int): LakeRow =
    LakeRow(day, 1 + rnd.nextInt(5000).toLong, 100 + rnd.nextInt(99900).toLong, statuses(rnd.nextInt(statuses.size)))
  private def fresh(n: Int, day: Int): Seq[(Long, LakeRow)] =
    (0 until n).map { _ => val k = nextKey; nextKey += 1; k -> row(day) }

  val initial: Seq[(Long, LakeRow)] = fresh(seedRows, 0)
  val batches: IndexedSeq[LakeBatch] = (0 until rounds).map { i =>
    val day = i + 1
    val ins = fresh(insertRows, day)
    val upd = Seq.fill(mergeUpdates)(1 + (rnd.nextDouble() * (nextKey - 1)).toLong).distinct.map(_ -> row(day))
    val mrg = upd ++ fresh(mergeInserts, day)
    val del = 1 + rnd.nextInt((nextKey - deleteWidth - 1).toInt).toLong
    LakeBatch(ins, mrg, del, 1 + rnd.nextInt(seedRows - 2000).toLong)
  }
}

/** In-memory key→row model of the table. */
object LakeModel {
  def agg(m: collection.Map[Long, LakeRow]): (Long, Long) = (m.size.toLong, m.valuesIterator.map(_.amount).sum)
  def digest(k: Long, r: LakeRow): Long = k * 7 + r.day * 17L + r.cust * 19 + r.amount * 13
  /** status → (count, sum(amount), sum(digest)). */
  def groups(m: collection.Map[Long, LakeRow]): Map[String, (Long, Long, Long)] =
    m.toSeq.groupBy(_._2.status).map { case (s, rs) =>
      s -> (rs.size.toLong, rs.map(_._2.amount).sum, rs.map { case (k, r) => digest(k, r) }.sum)
    }
}

/** Checkers for the lakehouse reads against the model. */
object LakeCheck {
  private def long(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.getLong(i)

  def agg(what: String, got: Seq[Row], want: (Long, Long)): Seq[String] = {
    val g = got.headOption.map(r => (long(r, 0), long(r, 1)))
    if (g.contains(want)) Nil else Seq(s"$what: (count, sum) = $g, expected $want")
  }

  def groups(what: String, got: Seq[Row], want: Map[String, (Long, Long, Long)]): Seq[String] = {
    val g = got.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    if (g == want) Nil else Seq(s"$what: $g, expected $want")
  }

  def content(what: String, got: Seq[Row], want: collection.Map[Long, LakeRow]): Seq[String] = {
    val g = got.map(r => r.getLong(0) -> LakeRow(r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val errs = mutable.ArrayBuffer[String]()
    if (g.size != want.size) errs += s"$what: ${g.size} rows, expected ${want.size}"
    g.find { case (k, r) => !want.get(k).contains(r) }.foreach { case (k, r) =>
      errs += s"$what: row k=$k is $r, expected ${want.get(k)}"
    }
    errs.toSeq
  }
}
