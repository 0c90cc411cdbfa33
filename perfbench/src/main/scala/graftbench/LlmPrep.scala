package graftbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Quality, Similarity, TrainingData}
import graft.sources.ManifestTable

/** CPU- and shuffle-bound operator work on a generated corpus with
  * planted near-duplicates and clustered embeddings; the metadata path
  * stays almost idle (one small commit per shard).
  *
  * Write op: one shard through quarantine → scrubPii/assignSplit →
  * minHashDedup → connectedComponents → keepCanonical → one ManifestTable
  * commit. Read op: one batch of brute-force and IVF kNN queries. */
final class LlmPrep(seed: Long, seconds: Int) extends Workload {
  val name = "llm_prep"
  /** One round takes ~5 s in a fresh JVM on a 4-vCPU host. */
  val rounds: Int = math.max(2, math.round(seconds / 5.0).toInt)
  private val docsPerShard = 300
  private val corpusVectors = 2500
  private val queriesPerRound = 12
  private val k = 10
  private val dim = 24

  private val checks = Seq(
    Quality.NotNull("text_present", "text"),
    Quality.InRange("length", "n_chars", 50, 100000),
    Quality.Satisfies("lang_known", col("lang").isin("en", "fr", "de")))

  private var gen: LlmGen = _
  private var dir: String = _
  private var corpusPath: String = _
  private val shardViews = mutable.ArrayBuffer[DataFrame]()
  private val queryViews = mutable.ArrayBuffer[DataFrame]()
  private val expectedKept = mutable.HashSet[Long]()
  private var docs = 0L
  private var verified = 0L
  private val recalls = mutable.ArrayBuffer[Double]()

  private val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
    StructField("lang", StringType), StructField("text", StringType), StructField("n_chars", IntegerType)))
  private val vecSchema = (id: String, v: String) => StructType(Seq(
    StructField(id, LongType, nullable = false), StructField(v, ArrayType(FloatType, containsNull = false))))

  def setup(ctx: Ctx, d: Path, rep: Int): Unit = {
    val spark = ctx.spark
    gen = new LlmGen(seed, rounds, docsPerShard, corpusVectors, rounds * queriesPerRound, dim)
    dir = d.resolve("training").toString
    corpusPath = d.resolve("embeddings").toString
    shardViews.clear(); queryViews.clear()
    gen.shards.foreach { s =>
      shardViews += spark.createDataFrame(s.map(x => Row(x.id, x.lang, x.rawText, x.nChars)).asJava, docSchema)
    }
    gen.queries.grouped(queriesPerRound).foreach { qs =>
      queryViews += spark.createDataFrame(qs.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema("q_id", "q_vec"))
    }
    spark.createDataFrame(gen.corpus.map { case (i, v) => Row(i, v.toSeq) }.asJava, vecSchema("c_id", "c_vec"))
      .write.mode("overwrite").parquet(corpusPath)
    expectedKept.clear(); docs = 0; verified = 0; recalls.clear()
  }

  def inputDigest: String = Stats.sha256(
    gen.shards.iterator.flatten.map(x => s"${x.id}|${x.lang}|${x.rawText}|${x.nChars}") ++
      (gen.corpus.iterator ++ gen.queries.iterator).map { case (i, v) => s"$i|${v.mkString(",")}" })

  def round(ctx: Ctx, i: Int): Unit = {
    val shard = gen.shards(i)
    ctx.op("write") {
      val prepped = ctx.span("operators.text.scrub_split") {
        val (clean, _) = Quality.quarantine(shardViews(i), checks)
        TrainingData.assignSplit(clean.withColumn("text", TrainingData.scrubPii(col("text"))), col("doc_id"), 80, 10)
          .localCheckpoint()
      }
      val pairs = ctx.span("operators.dedup.minhash") {
        Dedup.minHashDedup(prepped, "doc_id", "text").localCheckpoint()
      }
      val pairRows = pairs.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      val comps = ctx.span("operators.dedup.components")(Dedup.connectedComponents(pairs))
      ctx.span("manifest.commit") {
        ManifestTable.commit(Dedup.keepCanonical(prepped, "doc_id", comps), dir, append = true)
      }
      pairRows
    }.foreach { pairRows =>
      docs += shard.size
      verified += pairRows.size
      ctx.checkAll(LlmCheck.pairs(s"shard $i", pairRows, shard))
      expectedKept ++= LlmModel.kept(shard, pairRows.map(p => (p._1, p._2)))
    }
    ctx.op("read") {
      val corpus = ctx.spark.read.parquet(corpusPath)
      val brute = ctx.span("operators.similarity.knn") {
        Similarity.knnBruteForce(queryViews(i), corpus, k).select("q_id", "c_id", "sim", "rank").collect().toSeq
      }
      val ivf = ctx.span("operators.similarity.ivf") {
        Similarity.knnIvf(queryViews(i), corpus, k).select("q_id", "c_id", "sim", "rank").collect().toSeq
      }
      (brute, ivf)
    }.foreach { case (brute, ivf) =>
      val qs = gen.queries.slice(i * queriesPerRound, (i + 1) * queriesPerRound)
      ctx.checkAll(LlmCheck.knn(s"knn round $i", brute, qs, gen.corpus, k))
      ctx.checkAll(LlmCheck.ivf(s"ivf round $i", ivf, qs, gen.corpus))
      recalls += LlmModel.recall(brute, ivf)
    }
  }

  def rowsProcessed: Long = docs

  def finalChecks(ctx: Ctx): Seq[String] = {
    val got = ManifestTable.read(ctx.spark, dir).select("doc_id", "text", "split").collect().toSeq
    LlmCheck.committed("training table", got, expectedKept.toSet, gen.shards.flatten.map(x => x.id -> x).toMap)
  }

  def storedDirs: Seq[Path] = Seq(java.nio.file.Paths.get(dir))
  def liveRows: Long = expectedKept.size.toLong

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val tr = ctx.trace.get
    // LSH candidate volume, counted after the window so it costs the
    // measured ops nothing
    val candidates = shardViews.take(ctx.samples.get("write").map(_.size).getOrElse(0)).map { df =>
      val clean = Quality.quarantine(df, checks)._1.withColumn("text", TrainingData.scrubPii(col("text")))
      val sh = Dedup.shingles(clean, "doc_id", "text", 3)
      Dedup.lshCandidatePairs(Dedup.lshBands(Dedup.minHashSignatures(sh, "doc_id", 8), "doc_id", 8, 2), "doc_id").count()
    }.sum
    Map(
      "operators.dedup.minhash_ms" -> tr.layerMean("operators.dedup.minhash"),
      "operators.dedup.components_ms" -> tr.layerMean("operators.dedup.components"),
      "operators.text.scrub_split_ms" -> tr.layerMean("operators.text.scrub_split"),
      "operators.dedup.candidates_per_doc" -> candidates.toDouble / math.max(1L, docs),
      "operators.dedup.verified_per_candidate" -> verified.toDouble / math.max(1L, candidates),
      "operators.similarity.knn_ms" -> tr.layerMean("operators.similarity.knn"),
      "operators.similarity.ivf_ms" -> tr.layerMean("operators.similarity.ivf"),
      "operators.similarity.ivf_recall_at_k" -> (if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size))
  }
}

/** One generated document: raw text as the pipeline receives it, and the
  * tokens after PII scrubbing as the generator built them. */
final case class LlmDoc(id: Long, lang: String, rawText: String, nChars: Int, scrubbedTokens: Seq[String]) {
  def scrubbedText: String = scrubbedTokens.mkString(" ")
  def clean: Boolean = rawText != null && nChars >= 50 && Set("en", "fr", "de").contains(lang)
}

/** Seeded corpus: per shard `docsPerShard` documents over a 3000-word
  * vocabulary, 20% of them near-duplicates (1–3 substituted tokens) of an
  * earlier document in the shard, some with an e-mail or phone number,
  * some failing a quality check; and unit-free embeddings clustered around
  * 10 centres. */
final class LlmGen(seed: Long, nShards: Int, docsPerShard: Int, nVectors: Int, nQueries: Int, dim: Int) {
  private val rnd = new scala.util.Random(seed * 17 + 3)
  private val syll = Vector("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe", "gu", "hi", "jo")
  private val vocab: Vector[String] = Iterator.continually(
    Seq.fill(2 + rnd.nextInt(3))(syll(rnd.nextInt(syll.size))).mkString).distinct.take(3000).toVector

  val shards: IndexedSeq[IndexedSeq[LlmDoc]] = (0 until nShards).map { s =>
    val out = mutable.ArrayBuffer[LlmDoc]()
    (0 until docsPerShard).foreach { j =>
      val id = s * 100000L + j
      val lang = if (rnd.nextInt(30) == 0) "xx" else Vector("en", "fr", "de")(rnd.nextInt(3))
      // (raw token, scrubbed token) pairs
      val toks: Seq[(String, String)] =
        if (out.nonEmpty && rnd.nextInt(5) == 0) {
          val base = out(rnd.nextInt(out.size)).scrubbedTokens.map(t => (t, t)).toBuffer
          (0 until 1 + rnd.nextInt(3)).foreach { _ =>
            val w = vocab(rnd.nextInt(vocab.size)); base(rnd.nextInt(base.size)) = (w, w)
          }
          base.toSeq.map { case (r, c) => if (c == "<EMAIL>" || c == "<PHONE>") (pii(c), c) else (r, c) }
        } else {
          val n = if (rnd.nextInt(30) == 0) 3 else 30 + rnd.nextInt(31)
          val ws = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).map(w => (w, w))
          rnd.nextInt(10) match {
            case 0 => ws.patch(rnd.nextInt(ws.size), Seq((pii("<EMAIL>"), "<EMAIL>")), 0)
            case 1 => ws.patch(rnd.nextInt(ws.size), Seq((pii("<PHONE>"), "<PHONE>")), 0)
            case _ => ws
          }
        }
      val raw = if (rnd.nextInt(30) == 0) null else toks.map(_._1).mkString(" ")
      val nChars = if (raw == null) 0 else raw.length
      out += LlmDoc(id, lang, raw, nChars, toks.map(_._2))
    }
    out.toIndexedSeq
  }

  private def pii(kind: String): String =
    if (kind == "<EMAIL>") s"${vocab(rnd.nextInt(vocab.size))}.${vocab(rnd.nextInt(vocab.size))}@exemple.fr"
    else f"+33 ${100 + rnd.nextInt(900)} ${1000 + rnd.nextInt(9000)}"

  private val centres = Vector.fill(10)(Array.fill(dim)((rnd.nextGaussian() * 3).toFloat))
  private def near(): Array[Float] = {
    val c = centres(rnd.nextInt(centres.size))
    c.map(x => (x + rnd.nextGaussian() * 0.8).toFloat)
  }
  val corpus: IndexedSeq[(Long, Array[Float])] = (0 until nVectors).map(i => (i.toLong, near()))
  val queries: IndexedSeq[(Long, Array[Float])] = (0 until nQueries).map(i => (1000000L + i, near()))
}

/** Independent model of the operators' expected outputs. */
object LlmModel {
  def shingles(tokens: Seq[String]): Set[String] =
    tokens.map(_.toLowerCase).filter(_.nonEmpty).sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = (a intersect b).size.toLong
    common.toDouble / (a.size + b.size - common)
  }

  /** Clean docs minus every non-minimal member of a near-dup component. */
  def kept(shard: Seq[LlmDoc], pairs: Seq[(Long, Long)]): Set[Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    shard.filter(_.clean).map(_.id).filter(id => find(id) == id).toSet
  }

  def md5Bucket(id: Long, buckets: Int): Int = {
    val hex = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (java.lang.Long.parseLong(hex.substring(0, 6), 16) % buckets).toInt
  }

  def split(id: Long): String = { val b = md5Bucket(id, 100); if (b < 80) "train" else if (b < 90) "val" else "test" }

  /** Cosine rounded to 6 decimals, with the same fold order as the engine. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    def dot(x: Array[Float], y: Array[Float]) = { var s = 0.0; var i = 0; while (i < x.length) { s += x(i).toDouble * y(i).toDouble; i += 1 }; s }
    val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    java.math.BigDecimal.valueOf(c).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
  }

  def topK(q: Array[Float], corpus: Seq[(Long, Array[Float])], k: Int): Seq[(Long, Double)] =
    corpus.map { case (id, v) => (id, cosine(q, v)) }.sortBy { case (id, s) => (-s, id) }.take(k)

  def recall(brute: Seq[Row], ivf: Seq[Row]): Double = {
    val b = brute.map(r => (r.getLong(0), r.getLong(1))).toSet
    if (b.isEmpty) 0.0 else (b intersect ivf.map(r => (r.getLong(0), r.getLong(1))).toSet).size.toDouble / b.size
  }
}

/** Checkers for the llm_prep outputs. */
object LlmCheck {
  /** Every reported pair is two clean docs of the shard, ordered, whose
    * Jaccard over the generator's shingle sets equals the reported one and
    * meets the 0.4 threshold. */
  def pairs(what: String, got: Seq[(Long, Long, Double)], shard: Seq[LlmDoc]): Seq[String] = {
    val byId = shard.map(d => d.id -> d).toMap
    got.flatMap { case (a, b, j) =>
      (byId.get(a), byId.get(b)) match {
        case (Some(da), Some(db)) if da.clean && db.clean && a < b =>
          val want = LlmModel.jaccard(LlmModel.shingles(da.scrubbedTokens), LlmModel.shingles(db.scrubbedTokens))
          if (want != j || want < 0.4) Seq(s"$what: pair ($a,$b) jaccard $j, recomputed $want") else Nil
        case _ => Seq(s"$what: pair ($a,$b) is not two clean ordered docs of the shard")
      }
    }
  }

  /** Brute-force kNN equals a driver-side top-k (ties by id). */
  def knn(what: String, got: Seq[Row], queries: Seq[(Long, Array[Float])],
          corpus: Seq[(Long, Array[Float])], k: Int): Seq[String] = {
    val byQ = got.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2)))
    }
    queries.flatMap { case (q, v) =>
      val want = LlmModel.topK(v, corpus, k)
      val g = byQ.getOrElse(q, Seq.empty)
      if (g != want) Seq(s"$what: query $q got ${g.take(3)}..., expected ${want.take(3)}...") else Nil
    }
  }

  /** Every IVF result's similarity equals the exact cosine. */
  def ivf(what: String, got: Seq[Row], queries: Seq[(Long, Array[Float])],
          corpus: Seq[(Long, Array[Float])]): Seq[String] = {
    val qv = queries.toMap
    val cv = corpus.toMap
    val errs = got.flatMap { r =>
      val (q, c, s) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      (qv.get(q), cv.get(c)) match {
        case (Some(a), Some(b)) =>
          val want = LlmModel.cosine(a, b)
          if (want != s) Seq(s"$what: ($q,$c) sim $s, exact cosine $want") else Nil
        case _ => Seq(s"$what: unknown ids ($q,$c)")
      }
    }
    if (got.isEmpty) Seq(s"$what: no results") else errs
  }

  /** The committed table holds exactly the kept docs, scrubbed, with the
    * hash split. */
  def committed(what: String, got: Seq[Row], kept: Set[Long], docs: Map[Long, LlmDoc]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val ids = got.map(_.getLong(0))
    if (ids.size != ids.distinct.size) errs += s"$what: duplicate doc ids"
    if (ids.toSet != kept)
      errs += s"$what: ${(kept -- ids).size} kept docs missing, ${(ids.toSet -- kept).size} unexpected"
    got.find { r =>
      val d = docs.get(r.getLong(0))
      !d.exists(x => x.scrubbedText == r.getString(1) && LlmModel.split(x.id) == r.getString(2))
    }.foreach(r => errs += s"$what: doc ${r.getLong(0)} has text/split ${r.getString(1).take(40)}/${r.getString(2)}")
    errs.toSeq
  }
}
