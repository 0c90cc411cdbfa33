package graftbench

import java.nio.file.Path
import java.time.LocalDate
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.pipeline.{Jobs, RappelConso}
import graft.sources.JdbcIO
import graft.sources.v2.TransportRegistry

/** The reference's own traffic, one small incremental day per round:
  * `Jobs.producer` over a seeded stub transport into a JSON topic
  * directory, `Jobs.ingest` (AvailableNow) into the idempotent parquet
  * sink, and `Jobs.ingestV2` into in-process Derby. Per-action driver,
  * streaming-trigger and JDBC fixed costs dominate.
  *
  * Pagination is set to limit 10 / maxOffset 60, so a day whose fetch
  * window (yesterday's boundary rows plus today's) reaches 50 rows takes the
  * offset-cap restart and re-fetches pages; every third measured day
  * publishes nothing (a replay day, which must add 0 rows to both
  * sinks). */
final class RecallDaily(seed: Long, seconds: Int) extends Workload {
  val name = "recall_daily"
  /** One day takes ~3 s in a fresh JVM on a 4-vCPU host; at least one
    * replay day is always measured. */
  val rounds: Int = math.max(3, math.round(seconds / 3.0).toInt)
  private val backlogDays = 4
  private val limit = 10
  private val maxOffset = 60
  private val table = "rappel"

  private var gen: RecallGen = _
  private var dir: Path = _
  private var url: String = _
  private var transportName: String = _
  private val props = new Properties()
  props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
  /** Days the stub remote has published (dates base .. base+published-1). */
  @volatile private var published = 0
  private val transportCalls = new AtomicLong()
  private val rowsServed = new AtomicLong()
  private var served0 = 0L
  private var calls0 = 0L
  private var appended = 0L
  private var ingests = 0

  private def topic = dir.resolve("topic").toString
  private def sink = dir.resolve("sink").toString
  private def checkpoint = dir.resolve("checkpoint").toString

  private val rawSchema = StructType(RappelConso.rawApiFields.map(StructField(_, StringType, nullable = true)))

  /** The stub API: rows published so far with date > where, date-ASC,
    * sliced by (offset, limit). */
  private def transport(where: String, offset: Int, lim: Int): Seq[Map[String, String]] = {
    transportCalls.incrementAndGet()
    val page = gen.days.take(published).iterator.flatten
      .filter(_("date_de_publication") > where).slice(offset, offset + lim).toSeq
    rowsServed.addAndGet(page.size)
    page
  }

  def setup(ctx: Ctx, d: Path, rep: Int): Unit = {
    if (url != null) RecallDaily.dropDerby(url)
    gen = new RecallGen(seed, backlogDays, rounds)
    dir = d
    url = s"jdbc:derby:memory:perfbench_recall_$rep;create=true"
    transportName = s"perfbench_recall_$rep"
    RecallDaily.registerVarcharDialect()
    JdbcIO.createAllTextTable(url, table, RappelConso.dbFields, "reference_fiche", props,
      colType = "VARCHAR(512)")
    TransportRegistry.register(transportName, (w, o, l) => transport(w, o, l))
    // seeding: the backlog arrives as one first run of both jobs
    published = backlogDays
    runDay(ctx)
    ctx.check(sinkKeys(ctx).size == gen.publishedRows(published).size,
      s"recall_daily: backlog seeding left ${sinkKeys(ctx).size} sink rows")
  }

  def inputDigest: String =
    Stats.sha256(gen.days.iterator.flatten.map(_.toSeq.sorted.mkString("\u0001")))

  private def runDay(ctx: Ctx): Long = {
    ctx.span("pipeline.producer") {
      Jobs.producer(ctx.spark, (w, o, l) => transport(w, o, l), dir.resolve("wm1.json").toString, Some(topic))
    }
    ctx.span("streaming.ingest") {
      Jobs.ingest(ctx.spark, topic, sink, checkpoint).awaitTermination()
    }
    ingests += 1
    ctx.span("jdbc.ingest_v2") {
      Jobs.ingestV2(ctx.spark, transportName, rawSchema, dir.resolve("wm2.json").toString,
        url, table, props, limit = limit, maxOffset = maxOffset).count()
    }
  }

  private def sinkKeys(ctx: Ctx): Seq[String] =
    ctx.spark.read.parquet(sink).select("reference_fiche").collect().map(_.getString(0)).toSeq

  def round(ctx: Ctx, i: Int): Unit = {
    if (i == 0) { calls0 = transportCalls.get(); served0 = rowsServed.get(); ingests = 0 }
    val day = backlogDays + i
    published = day + 1
    val expected = gen.days(day)
    ctx.op("write") { runDay(ctx) }.foreach { fresh =>
      appended += fresh
      ctx.check(fresh == expected.size,
        s"recall_daily day $day: ingestV2 appended $fresh rows, expected ${expected.size}")
    }
    val date = gen.date(day)
    ctx.op("read") {
      val pq = ctx.spark.read.parquet(sink)
      val db = JdbcIO.readTable(ctx.spark, url, table, props)
      def today(df: org.apache.spark.sql.DataFrame) =
        df.select(RappelConso.dbFields.map(col): _*)
          .filter(col("date_de_publication") === date).collect().toSeq
      (today(pq), pq.count(), today(db), db.count())
    }.foreach { case (pqRows, pqTotal, dbRows, dbTotal) =>
      val total = gen.publishedRows(published).size
      ctx.checkAll(RecallCheck.rows(s"parquet sink day $day", pqRows, expected))
      ctx.checkAll(RecallCheck.rows(s"derby sink day $day", dbRows, expected))
      ctx.check(pqTotal == total, s"recall_daily day $day: parquet sink holds $pqTotal rows, expected $total")
      ctx.check(dbTotal == total, s"recall_daily day $day: derby sink holds $dbTotal rows, expected $total")
    }
  }

  def rowsProcessed: Long = rowsServed.get() - served0

  def finalChecks(ctx: Ctx): Seq[String] = {
    val all = gen.publishedRows(published)
    val pq = ctx.spark.read.parquet(sink).select(RappelConso.dbFields.map(col): _*).collect().toSeq
    val db = JdbcIO.readTable(ctx.spark, url, table, props)
      .select(RappelConso.dbFields.map(col): _*).collect().toSeq
    RecallCheck.rows("parquet sink (final)", pq, all) ++ RecallCheck.rows("derby sink (final)", db, all)
  }

  def storedDirs: Seq[Path] = Seq("topic", "sink", "checkpoint").map(dir.resolve)
  def liveRows: Long = gen.publishedRows(published).size.toLong

  def layerMetrics(ctx: Ctx): Map[String, Double] = {
    val t = ctx.trace.get
    val ops = math.max(1, ctx.attempted - ctx.failed).toDouble
    t.streamingMeans(ingests) ++ Map(
      "pipeline.producer_ms" -> t.layerMean("pipeline.producer"),
      "pipeline.transport_calls_per_op" -> (transportCalls.get() - calls0) / ops,
      "streaming.ingest_ms" -> t.layerMean("streaming.ingest"),
      "jdbc.ingest_v2_ms" -> t.layerMean("jdbc.ingest_v2"),
      "jdbc.rows_appended_per_op" -> appended / ops)
  }
}

object RecallDaily {
  private var dialectRegistered = false

  /** Spark's built-in Derby dialect maps StringType to CLOB, and NULLs
    * (which the transform produces for absent columns) then fail
    * setNull(CLOB); map strings to VARCHAR instead. */
  def registerVarcharDialect(): Unit = synchronized {
    if (!dialectRegistered) {
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
        new org.apache.spark.sql.jdbc.JdbcDialect {
          override def canHandle(url: String): Boolean = url.startsWith("jdbc:derby")
          override def getJDBCType(dt: org.apache.spark.sql.types.DataType) = dt match {
            case StringType =>
              Some(org.apache.spark.sql.jdbc.JdbcType("VARCHAR(512)", java.sql.Types.VARCHAR))
            case _ => None
          }
        })
      dialectRegistered = true
    }
  }

  /** Frees an earlier setup's in-memory database (Derby reports a
    * successful drop as an SQLException). */
  def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", ";drop=true")).close()
    catch { case _: java.sql.SQLException => () }
}

/** Seeded generator of the recall feed: `backlog` history days, then one
  * day per measured round; per day 18–40 new recalls (a fixed pattern of
  * sizes) with accented text, every T3 (merge) and T4 (date-range) branch,
  * absent and empty fields; every third measured day publishes nothing. */
final class RecallGen(seed: Long, backlog: Int, measured: Int) {
  private val base = LocalDate.of(2024, 1, 1)
  def date(day: Int): String = base.plusDays(day.toLong).toString

  private val words = Vector("Présence", "Listéria", "monocytogènes", "Salmonelle", "allergène",
    "non déclaré", "Crème fraîche", "Pâté de campagne", "Forêt-Noire", "bûche de Noël", "Bœuf haché",
    "Épicerie", "Boulangerie-pâtisserie", "Fromages à pâte molle", "Réfrigéré", "entre 0°C et 4°C",
    "France entière", "Île-de-France", "Côte-d'Or", "Intermarché", "Système U", "Hypermarchés",
    "Remboursement", "Échange en magasin", "Rappel volontaire", "corps étranger", "Traces d'arachide",
    "Hygiène-Beauté", "Aliments pour bébé", "Café moulu", "Thé glacé", "naïveté", "Zoë", "ça",
    "Noix de coco râpée", "Müesli", "œufs frais", "fièvre", "gastro-entérite", "numéro vert 0800")
  private val urlCols = Seq("liens_vers_les_images", "lien_vers_la_liste_des_produits",
    "lien_vers_la_liste_des_distributeurs", "lien_vers_affichette_pdf", "lien_vers_la_fiche_rappel")
  private val textCols = RappelConso.columnsToNormalize
  private val mergeSources = Seq("risques_encourus_par_le_consommateur", "description_complementaire_du_risque",
    "preconisations_sanitaires", "conduites_a_tenir_par_le_consommateur",
    "informations_complementaires", "informations_complementaires_publiques")

  val days: IndexedSeq[Seq[Map[String, String]]] = {
    val rnd = new scala.util.Random(seed)
    def phrase(): String = Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).mkString(" ")
    def dmy(): String = f"${1 + rnd.nextInt(28)}%02d/${1 + rnd.nextInt(12)}%02d/202${3 + rnd.nextInt(2)}"
    def dateRange(): Option[String] = rnd.nextInt(8) match {
      case 0 => Some(s"Du ${dmy()} au ${dmy()}")
      case 1 => Some(s"du ${dmy()} au ${dmy()} puis le ${dmy()}")
      case 2 => Some(s"Depuis le ${dmy()}")
      case 3 => Some(s"Jusqu'au ${dmy()}")
      case 4 => Some(s"Depuis le ${dmy()} jusqu'à épuisement")
      case 5 => Some(s"Vendu le ${dmy()}")
      case 6 => Some("Date inconnue")
      case _ => None
    }
    (0 until backlog + measured).map { day =>
      // day sizes do not depend on the seed, so every seed serves the
      // same number of rows through the same pagination path
      val n = if (day >= backlog && (day - backlog) % 3 == 2) 0 else 18 + (day * 7919) % 23
      (0 until n).map { j =>
        val m = mutable.LinkedHashMap[String, String]()
        m("reference_fiche") = f"RC-$seed%d-$day%03d-$j%02d"
        m("date_de_publication") = date(day)
        urlCols.foreach { c =>
          if (rnd.nextInt(6) > 0) m(c) = s"https://rappel.conso.gouv.fr/$c/${rnd.nextInt(1000000)}"
        }
        if (rnd.nextBoolean()) m("date_de_fin_de_la_procedure_de_rappel") = date(day + 30 + rnd.nextInt(60))
        textCols.foreach { c =>
          rnd.nextInt(10) match {
            case 0 => ()                 // absent: the API omitted the key
            case 1 => m(c) = ""          // empty: falsy, normalizes to NULL
            case _ => m(c) = phrase()
          }
        }
        mergeSources.foreach { c =>
          rnd.nextInt(4) match {
            case 0 => ()
            case 1 => m(c) = ""
            case _ => m(c) = phrase()
          }
        }
        dateRange().foreach(m("date_debut_fin_de_commercialisation") = _)
        m.toMap
      }
    }
  }

  def publishedRows(published: Int): Seq[Map[String, String]] = days.take(published).flatten
}

/** Independent model of the reference transform (T1–T4), written apart
  * from `RappelConso.transform`: accent strip with java.text.Normalizer
  * and a \p{Mn} regex, plain-Scala merge and date split. */
object RecallModel {
  private val marks = "\\p{Mn}+".r
  private val dmy = "\\d{2}/\\d{2}/\\d{4}".r

  def strip(s: String): String =
    if (s == null || s.isEmpty) null
    else marks.replaceAllIn(java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD), "")

  def merge(a: Option[String], b: Option[String]): String = {
    val parts = Seq(a, b).flatten.filter(_.nonEmpty)
    if (parts.isEmpty) null else parts.mkString("\n")
  }

  def split(text: Option[String]): (String, String) = text match {
    case None => (null, null)
    case Some(t) =>
      val hits = dmy.findAllIn(t).toSeq
      val low = t.toLowerCase
      hits.size match {
        case 2 => (hits(0), hits(1))
        case 1 if low.contains("depuis le") => (hits(0), null)
        case 1 if low.contains("jusqu") => (null, hits(0))
        case _ => (null, null)
      }
  }

  /** The expected 25-column sink row, in `RappelConso.dbFields` order. */
  def expected(raw: Map[String, String]): Seq[String] = {
    val (start, end) = split(raw.get("date_debut_fin_de_commercialisation"))
    val out = mutable.Map[String, String]()
    RappelConso.columnsToKeep.foreach(c => out(c) = raw.get(c).orNull)
    RappelConso.columnsToNormalize.foreach(c => out(c) = strip(raw.get(c).orNull))
    out("risques_pour_le_consommateur") = strip(merge(raw.get("risques_encourus_par_le_consommateur"),
      raw.get("description_complementaire_du_risque")))
    out("recommandations_sante") = strip(merge(raw.get("preconisations_sanitaires"),
      raw.get("conduites_a_tenir_par_le_consommateur")))
    out("informations_complementaires") = strip(merge(raw.get("informations_complementaires"),
      raw.get("informations_complementaires_publiques")))
    out("date_debut_commercialisation") = start
    out("date_fin_commercialisation") = end
    RappelConso.dbFields.map(out)
  }
}

/** Checker: the sink rows (dbFields order) are exactly the expected keys,
  * once each, and every column equals the model's transform. */
object RecallCheck {
  def rows(what: String, got: Seq[Row], raws: Seq[Map[String, String]]): Seq[String] = {
    val errs = mutable.ArrayBuffer[String]()
    val want = raws.map(r => r("reference_fiche") -> RecallModel.expected(r)).toMap
    val keys = got.map(_.getString(0))
    if (keys.distinct.size != keys.size) errs += s"$what: duplicate keys"
    val missing = want.keySet -- keys
    val extra = keys.toSet -- want.keySet
    if (missing.nonEmpty) errs += s"$what: ${missing.size} expected keys missing, e.g. ${missing.head}"
    if (extra.nonEmpty) errs += s"$what: ${extra.size} unexpected keys, e.g. ${extra.head}"
    got.foreach { r =>
      want.get(r.getString(0)).foreach { w =>
        RappelConso.dbFields.indices.find(i => r.getString(i) != w(i)).foreach { i =>
          errs += s"$what: key ${r.getString(0)} column ${RappelConso.dbFields(i)} is " +
            s"'${r.getString(i)}', expected '${w(i)}'"
        }
      }
    }
    errs.toSeq
  }
}
