package graftbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.RappelConso

/** Each checker passes the output its model expects and fails once that
  * output is corrupted. No Spark session: checkers see collected rows. */
class CheckersSpec extends AnyFunSuite {

  // ---- recall_daily ----

  test("recall model: accent strip, T3 merge and every T4 branch") {
    assert(RecallModel.strip("Présence de Listéria à Noël") == "Presence de Listeria a Noel")
    assert(RecallModel.strip("") == null)
    assert(RecallModel.merge(Some("a"), Some("b")) == "a\nb")
    assert(RecallModel.merge(Some(""), Some("b")) == "b")
    assert(RecallModel.merge(None, Some("")) == null)
    assert(RecallModel.split(Some("Du 01/02/2024 au 15/03/2024")) == ("01/02/2024", "15/03/2024"))
    assert(RecallModel.split(Some("du 01/02/2024 au 15/03/2024 puis le 20/03/2024")) == (null, null))
    assert(RecallModel.split(Some("Depuis le 03/01/2024 jusqu'à épuisement")) == ("03/01/2024", null))
    assert(RecallModel.split(Some("Jusqu'au 28/02/2024")) == (null, "28/02/2024"))
    assert(RecallModel.split(Some("Vendu le 12/02/2024")) == (null, null))
    assert(RecallModel.split(None) == (null, null))
  }

  private val gen = new RecallGen(7L, 4, 6)
  private val day = gen.days(3)
  private def good: Seq[Row] = day.map(r => Row(RecallModel.expected(r): _*))

  test("recall checker accepts the model's rows") {
    assert(day.nonEmpty)
    assert(RecallCheck.rows("sink", good, day).isEmpty)
  }

  test("recall checker fails on a wrong column, a missing, a duplicate or an extra row") {
    val i = RappelConso.dbFields.indexOf("motif_du_rappel")
    val row = day.indexWhere(r => r.get("motif_du_rappel").exists(_.exists(_ > 0x7f)))
    assert(row >= 0, "the generator must produce accented text")
    // accents left in: the T2 strip did not run
    val unstripped = good.updated(row, Row(good(row).toSeq.updated(i, day(row)("motif_du_rappel")): _*))
    assert(RecallCheck.rows("sink", unstripped, day).nonEmpty)
    assert(RecallCheck.rows("sink", good.tail, day).nonEmpty)
    assert(RecallCheck.rows("sink", good :+ good.head, day).nonEmpty)
    // a replay day expects no rows at all
    assert(RecallCheck.rows("replay", good.take(1), Seq.empty).nonEmpty)
  }

  // ---- lakehouse_cycle ----

  private val model = Map(1L -> LakeRow(1, 10, 500, "open"), 2L -> LakeRow(1, 11, 700, "billed"),
    3L -> LakeRow(2, 12, 900, "open"))

  test("lake checkers accept the model's answers") {
    assert(LakeCheck.agg("agg", Seq(Row(3L, 2100L)), LakeModel.agg(model)).isEmpty)
    val groups = LakeModel.groups(model).toSeq.map { case (s, (c, a, d)) => Row(s, c, a, d) }
    assert(LakeCheck.groups("groups", groups, LakeModel.groups(model)).isEmpty)
    val rows = model.toSeq.map { case (k, r) => Row(k, r.day, r.cust, r.amount, r.status) }
    assert(LakeCheck.content("content", rows, model).isEmpty)
  }

  test("lake checkers fail on a wrong count, sum, group or row") {
    assert(LakeCheck.agg("agg", Seq(Row(3L, 2101L)), LakeModel.agg(model)).nonEmpty)
    assert(LakeCheck.agg("time travel", Seq(Row(2L, 2100L)), LakeModel.agg(model)).nonEmpty)
    val groups = LakeModel.groups(model).toSeq.map { case (s, (c, a, d)) => Row(s, c, a, d + 1) }
    assert(LakeCheck.groups("groups", groups, LakeModel.groups(model)).nonEmpty)
    val rows = model.toSeq.map { case (k, r) => Row(k, r.day, r.cust, r.amount, r.status) }
    assert(LakeCheck.content("lost row", rows.tail, model).nonEmpty)
    assert(LakeCheck.content("changed row", Row(1L, 1, 10L, 501L, "open") +: rows.tail, model).nonEmpty)
  }

  // ---- llm_prep ----

  private val llm = new LlmGen(5L, 1, 200, 300, 4, 8)
  private val shard = llm.shards(0)

  /** The pairs the planted near-duplicates should produce. */
  private def truePairs: Seq[(Long, Long, Double)] = {
    val clean = shard.filter(_.clean)
    for {
      a <- clean; b <- clean if a.id < b.id
      j = LlmModel.jaccard(LlmModel.shingles(a.scrubbedTokens), LlmModel.shingles(b.scrubbedTokens))
      if j >= 0.4
    } yield (a.id, b.id, j)
  }

  test("llm generator plants near-duplicates, PII and quality failures") {
    assert(truePairs.nonEmpty)
    assert(shard.exists(!_.clean))
    assert(shard.exists(d => d.scrubbedTokens.contains("<EMAIL>") && d.rawText != null && d.rawText.contains("@")))
  }

  test("llm pair checker fails on a wrong Jaccard, an unordered or an unclean pair") {
    val ps = truePairs
    assert(LlmCheck.pairs("shard", ps, shard).isEmpty)
    val (a, b, j) = ps.head
    assert(LlmCheck.pairs("shard", (a, b, j - 0.01) +: ps.tail, shard).nonEmpty)
    assert(LlmCheck.pairs("shard", (b, a, j) +: ps.tail, shard).nonEmpty)
    val dirty = shard.find(!_.clean).get.id
    assert(LlmCheck.pairs("shard", ps :+ ((math.min(a, dirty), math.max(a, dirty), 1.0)), shard).nonEmpty)
  }

  test("llm kNN checkers fail on a reordered top-k or an inexact similarity") {
    val k = 5
    val brute = llm.queries.flatMap { case (q, v) =>
      LlmModel.topK(v, llm.corpus, k).zipWithIndex.map { case ((c, s), r) => Row(q, c, s, r + 1) }
    }
    assert(LlmCheck.knn("knn", brute, llm.queries, llm.corpus, k).isEmpty)
    assert(LlmCheck.ivf("ivf", brute, llm.queries, llm.corpus).isEmpty)
    val swapped = brute.updated(0, Row(brute(0).getLong(0), brute(1).getLong(1), brute(0).getDouble(2), 1))
    assert(LlmCheck.knn("knn", swapped, llm.queries, llm.corpus, k).nonEmpty)
    val off = brute.updated(0, Row(brute(0).getLong(0), brute(0).getLong(1), brute(0).getDouble(2) + 1e-6, 1))
    assert(LlmCheck.ivf("ivf", off, llm.queries, llm.corpus).nonEmpty)
    assert(LlmCheck.knn("knn", brute.drop(1), llm.queries, llm.corpus, k).nonEmpty)
  }

  test("llm committed-table checker fails on a kept duplicate, wrong split or unscrubbed text") {
    val kept = LlmModel.kept(shard, truePairs.map(p => (p._1, p._2)))
    val docs = shard.map(d => d.id -> d).toMap
    val rows = kept.toSeq.map(id => Row(id, docs(id).scrubbedText, LlmModel.split(id)))
    assert(LlmCheck.committed("table", rows, kept, docs).isEmpty)
    val loser = truePairs.head._2
    assert(!kept.contains(loser))
    assert(LlmCheck.committed("table", rows :+ Row(loser, docs(loser).scrubbedText, LlmModel.split(loser)),
      kept, docs).nonEmpty)
    val r0 = rows.head
    val wrongSplit = if (r0.getString(2) == "train") "test" else "train"
    assert(LlmCheck.committed("table", Row(r0.getLong(0), r0.getString(1), wrongSplit) +: rows.tail, kept, docs).nonEmpty)
    val pii = kept.find(id => docs(id).rawText != docs(id).scrubbedText).get
    val unscrubbed = rows.map(r => if (r.getLong(0) == pii) Row(pii, docs(pii).rawText, r.getString(2)) else r)
    assert(LlmCheck.committed("table", unscrubbed, kept, docs).nonEmpty)
  }

  test("split model matches the documented md5 bucket rule") {
    // md5("0") = cfcd208495d565ef66e7dff9f98764da; 0xcfcd20 = 13618464; % 100 = 64
    assert(LlmModel.md5Bucket(0L, 100) == 64)
    assert(LlmModel.split(0L) == "train")
  }
}
