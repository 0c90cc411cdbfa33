package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{ParityFunctions => PF, RollingHash, StripAccents}
import graft.operators.Relational

/** Text-analysis surface (training-data pipeline ops) + the reference's
  * scalar transforms T2/T3/T4 re-expressed declaratively. All integer-count
  * based (exact across engines); ratios are single int/int double divisions
  * (bit-identical in IEEE), rounded to 6 for safety.
  */
object TextQueries {

  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  // q50: token statistics per language — whitespace tokens + a BPE-ish
  // regex token count ([a-z]+ | digit runs | single other char).
  def tokenStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = col("_toks")
    Tables(s, dir).documents
      .select($"lang", $"text", PF.tokens($"text").as("_toks"))
      .select($"lang", size(ts).as("n_tok"),
        size(array_distinct(ts)).as("n_distinct"),
        size(regexp_extract_all(lower($"text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tokens"),
        sum($"n_distinct").as("total_distinct"),
        sum($"n_bpe").as("total_bpe"),
        round(avg($"n_tok"), 6).as("avg_tokens"))
      .orderBy($"lang")
  }

  // q51: per-document quality scoring (length / punctuation / stopword
  // ratio / average word length), the usual pre-training filters.
  def qualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = col("_toks")
    Tables(s, dir).documents
      .select($"doc_id", $"text", PF.tokens($"text").as("_toks"))
      .select($"doc_id", size(ts).as("n_tok"),
        aggregate(transform(ts, t => length(t)), lit(0), (acc, x) => acc + x).as("tok_chars"),
        size(filter(ts, t => t.isInCollection(stopwords))).as("n_stop"),
        length(regexp_replace($"text", "[a-z0-9 ]", "")).as("n_punct"),
        length($"text").as("n_chars"))
      .select($"doc_id", $"n_tok".cast("long").as("n_tok"),
        round($"n_stop".cast("double") / $"n_tok", 6).as("stop_ratio"),
        round($"tok_chars".cast("double") / $"n_tok", 6).as("avg_word_len"),
        round($"n_punct".cast("double") / $"n_chars", 6).as("punct_ratio"))
      .orderBy($"doc_id")
  }

  // q52: language-ID heuristic (marker-word hit counts, deterministic
  // priority on ties) → confusion matrix against the labeled lang column.
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ts = col("_toks")
    def score(words: Seq[String]) =
      words.map(w => array_contains(ts, w).cast("int")).reduce(_ + _)
    val en = score(Seq("the", "and", "of", "to", "a"))
    val es = score(Seq("el", "la", "de", "los", "y"))
    val de = score(Seq("der", "die", "das", "und", "ist"))
    val fr = score(Seq("le", "les", "et", "des", "une"))
    val predicted = when(en > 0 && en >= es && en >= de && en >= fr, "en")
      .when(es > 0 && es >= de && es >= fr, "es")
      .when(de > 0 && de >= fr, "de")
      .when(fr > 0, "fr")
      .otherwise("und")
    Tables(s, dir).documents
      .select($"lang", PF.tokens($"text").as("_toks"))
      .select($"lang", predicted.as("predicted"))
      .groupBy($"lang", $"predicted").agg(count(lit(1)).as("n"))
      .orderBy($"lang", $"predicted")
  }

  // q53: document fingerprint — md5 over the sorted distinct token set
  // (order-insensitive content hash for exact-content dedup).
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id", PF.tokens($"text").as("_toks"))
      .select($"doc_id",
        md5(array_join(array_sort(array_distinct(col("_toks"))), " ").cast("binary")).as("fp"))
      .orderBy($"doc_id")
  }

  // q55: polynomial rolling-hash fingerprint (custom codegen Expression)
  // — the order-sensitive cousin of q53's content hash.
  def rollingFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id", RollingHash.rollingHash($"text").as("rhash"))
      .orderBy($"doc_id")
  }

  // q54: TF-IDF top terms per language — tf per (doc, term), document
  // frequency via a second agg, corpus size broadcast as a 1-row join
  // (no driver-side count), ln-weighted, top-3 per lang via window rank.
  // Cross-engine float contract (the q303 pinned-constant pattern): the
  // per-term idf is pinned to integer MICRO-units at its source —
  // round(ln(N/df)·1e6) as a long — so the per-doc weight tf·idf_micro
  // is an exact long, the per-(lang,term) average sums LONGS (order-free,
  // unlike a float sum whose low bits depend on each engine's add order),
  // and avg_tfidf is ONE correctly-rounded IEEE division of exact
  // integers — bit-identical across engines by construction. (Σ tf·idf
  // stays < 2^53 through ~10^9-token corpora; past that, lift the sum to
  // DECIMAL(38,0) — same plan, wider accumulator.)
  def tfidfTopTerms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val toks = graft.operators.Relational.spread(docs, $"doc_id")
      .select($"doc_id", $"lang", PF.tokens($"text").as("_toks"))
      .select($"doc_id", $"lang", explode(col("_toks")).as("term"))
    val tf = toks.groupBy($"doc_id", $"lang", $"term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val nTotal = docs.agg(count(lit(1)).as("n_total"))
    val tfidf = tf.join(dfreq, Seq("term")).crossJoin(broadcast(nTotal))
      .select($"lang", $"term",
        ($"tf" * round(log($"n_total".cast("double") / $"df") * 1000000.0)
          .cast("long")).as("tfidf_micro"))
    val byLang = tfidf.groupBy($"lang", $"term")
      .agg((sum($"tfidf_micro").cast("double") /
        (count(lit(1)) * lit(1000000L)).cast("double")).as("avg_tfidf"))
    graft.operators.Relational.topKPerGroup(byLang, Seq($"lang"),
        Seq($"avg_tfidf".desc, $"term".asc), 3, rankCol = "rk")
      .select($"lang", $"term", $"avg_tfidf", $"rk")
      .orderBy($"lang", $"rk")
  }

  // q98: count-min sketch heavy hitters — a frequency sketch whose hash
  // rows are md5-salted (engine-reproducible, same portability trick as
  // the LSH planes). 4 rows × 64 buckets: each cell is an ordinary hash
  // aggregate with map-side combine, and the whole sketch is 256 rows no
  // matter how large the corpus — THE shape for streaming/mergeable
  // frequency estimation at scale. Estimate = min over rows; the face
  // pins the structural guarantee est ≥ exact on the exact top-20 tokens
  // (every quantity an integer — bit-exact cross-engine).
  def countMinHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir).documents
      .select(explode(PF.tokens($"text")).as("tok"))
    val exact = toks.groupBy($"tok").agg(count(lit(1)).as("exact"))
    val top = exact.orderBy($"exact".desc, $"tok".asc).limit(20)
    import graft.operators.{TrainingData => TD}
    def bucketOf(k: Int, c: org.apache.spark.sql.Column) =
      TD.hashBucket(concat(lit(s"$k:"), c), 64)
    val cells = (0 until 4).map { k =>
      toks.select(lit(k).as("k"), bucketOf(k, $"tok").as("bucket"))
    }.reduce(_.unionByName(_))
      .groupBy($"k", $"bucket").agg(count(lit(1)).cast("long").as("cell"))
    val probes = (0 until 4).map { k =>
      top.select($"tok", $"exact", lit(k).as("k"), bucketOf(k, $"tok").as("bucket"))
    }.reduce(_.unionByName(_))
    probes.join(cells, Seq("k", "bucket"))
      .groupBy($"tok", $"exact")
      .agg(min($"cell").as("est"))
      .select($"tok", $"exact", $"est", ($"est" >= $"exact").as("never_under"))
      .orderBy($"exact".desc, $"tok".asc)
  }

  // q102: one BPE-training iteration — corpus-wide adjacent-token-pair
  // counts, top 30 merge candidates. THE inner loop of tokenizer training:
  // zip the token array against itself shifted by one (pure codegen HOFs,
  // no UDF), explode, and one hash aggregate with map-side combine — at
  // 100 TB the pair space, not the corpus, bounds the shuffle (the
  // aggregate carries one row per DISTINCT pair per partition). Ordering
  // (n desc, pair asc) is total, so the top-30 cut is deterministic.
  def bpePairCounts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select(PF.tokens($"text").as("t"))
      .filter(size($"t") >= 2)
      .select(explode(zip_with(
        slice($"t", lit(1), size($"t") - 1),
        slice($"t", lit(2), size($"t") - 1),
        (a, b) => concat(a, lit(" "), b))).as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair".asc).limit(30)
  }

  // q104: rare-trigram quality score — the cheap stand-in for LM
  // perplexity filtering: a document whose character trigrams are mostly
  // corpus-rare is likely noise/garble. Rarity is df ≤ 2 — and that bound
  // IS the scale trick: a trigram with df ≤ 2 lives in at most {min_doc,
  // max_doc}, so the one df hash-aggregate can carry its owners in two
  // cheap min/max partials and NOTHING joins back against the exploded
  // trigram set (the naive dfreq⋈trigrams join re-shuffles the whole
  // corpus; the rare set itself is the long tail — never broadcastable).
  // Ratio in exact ppm (n_rare·10⁶ < 2^53; floor of the single IEEE
  // division is engine-identical) — no float enters the hash.
  //
  // Two measured scale choices (sf0.1, median-of-3):
  //   - Per-doc dedup happens in a DISTINCT aggregate over exploded raw
  //     instances, NOT as `explode(array_distinct(transform(...)))`: a
  //     generator whose input expression carries array_distinct ran ~12×
  //     slower than the same expression in a plain projection (4.1 s vs
  //     0.3 s here — the fused Generate re-pays the O(n²) distinct), and
  //     the distinct aggregate collapses map-side anyway because spread()
  //     colocates each doc's trigrams, so the exchange ships only the
  //     already-distinct (doc, trik) longs. n_tri falls out of the same
  //     distinct frame (count per doc) — the old shape paid the whole
  //     trigram transform a second time just to take size(_tris).
  //   - The df aggregate — the suite's one high-cardinality shuffle —
  //     keys on xxhash64 of the trigram, not the trigram itself: nothing
  //     downstream ever reads the string back, so an 8-byte codegen'd
  //     long key shrinks hash-table entries and shuffle rows. 64-bit
  //     collisions are birthday-bounded at n²/2⁶⁵ over the ≤|charset|³
  //     trigram space (~5e-9 here), and a collision merges exactly two
  //     trigrams' df — an acceptable wobble for a quality-score
  //     heuristic, traded for the smaller shuffle.
  def rareTrigramScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a single parquet file would otherwise serialize the trigram
    // transform through one task (q54 discipline: spread by id first)
    val docs = graft.operators.Relational.spread(Tables(s, dir).documents, $"doc_id")
    val dt = docs
      .select($"doc_id", lower($"text").as("_txt"))
      .filter(length($"_txt") >= 3)
      .select($"doc_id", explode(transform(
        sequence(lit(1), length($"_txt") - 2),
        i => $"_txt".substr(i, lit(3)))).as("tri"))
      .select($"doc_id", xxhash64($"tri").as("trik"))
      .distinct()
    val rarePerDoc = dt
      .groupBy($"trik")
      .agg(count(lit(1)).as("df"), min($"doc_id").as("_d1"), max($"doc_id").as("_d2"))
      .filter($"df" <= 2)
      .select(explode(when($"_d1" === $"_d2", array($"_d1"))
        .otherwise(array($"_d1", $"_d2"))).as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_rare"))
    dt.groupBy($"doc_id").agg(count(lit(1)).cast("long").as("n_tri"))
      .join(rarePerDoc, Seq("doc_id"), "left")
      .select($"doc_id", $"n_tri", coalesce($"n_rare", lit(0L)).as("n_rare"),
        floor(coalesce($"n_rare", lit(0L)) * 1000000.0 / $"n_tri").cast("long").as("rare_ppm"))
      .orderBy($"doc_id")
  }

  // q105: vocabulary encoding — build the top-1000 token vocab (count
  // desc, token asc — a total order, so ids are deterministic), broadcast
  // it, and encode each document's first 30 tokens to ids (OOV → 0). The
  // 100 TB shape of "apply the tokenizer": vocab is a broadcast map-side
  // join (never a shuffle of the corpus), order is restored per doc by
  // sorting the tiny collected (pos, id) list, and the id sequence is
  // fingerprinted with md5 so any wrong id, order, or OOV decision breaks
  // the hash.
  def vocabEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = graft.operators.Relational.spread(Tables(s, dir).documents, $"doc_id")
    val toks = docs.select($"doc_id", posexplode(PF.tokens($"text")).as(Seq("pos", "tok")))
    val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"tok".asc).limit(1000)
      .select($"tok", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"c".desc, $"tok".asc))
        .cast("long").as("id"))
    toks.filter($"pos" < 30)
      .join(broadcast(vocab), Seq("tok"), "left")
      .select($"doc_id", $"pos", coalesce($"id", lit(0L)).as("id"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_enc"),
        sum(when($"id" === 0L, 1L).otherwise(0L)).as("n_oov"),
        md5(array_join(transform(array_sort(collect_list(struct($"pos", $"id"))),
          e => e.getField("id").cast("string")), ",").cast("binary")).as("ids_md5"))
      .orderBy($"doc_id")
  }

  // q106: distribution-drift detection between corpus slices — the
  // Wilcoxon rank-sum statistic of each source's n_chars against the
  // rest. Ranks use the average-rank tie convention (rank() + (ties−1)/2
  // — halves are exact in binary, so rank sums are order-independent and
  // engine-identical; no float hazard). The global rank window is fine
  // here because drift runs on the per-document METRIC table (id + one
  // number — TBs of text reduce to GBs of metrics before this op); a
  // truly unbounded rank would use a range-partitioned two-pass rank.
  def rankDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
    val ranked = Tables(s, dir).documents.select($"source", $"n_chars")
      .withColumn("_rk", rank().over(w.orderBy($"n_chars")))
      .withColumn("_ties", count(lit(1)).over(w.partitionBy($"n_chars")))
      .withColumn("_ar", $"_rk" + ($"_ties" - 1) / 2.0)
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n"), sum($"_ar").cast("double").as("r_sum"))
      .select($"source", $"n", $"r_sum",
        ($"r_sum" - $"n" * ($"n" + 1) / 2.0).as("u_stat"))
      .orderBy($"source")
  }

  // q60: the reference's T2 accent-strip as a native codegen'd Expression.
  def stripAccentsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).part
      .select($"p_partkey",
        StripAccents.stripAccents(concat(lit("Crème brûlée à Ångström №5 — "), $"p_name")).as("stripped"))
      .orderBy($"p_partkey")
  }

  // q61: the reference's T3 conditional merge, exercising every branch
  // (NULL / empty / value on each side) via doc_id-derived variants.
  def mergeColumnsQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = when($"doc_id" % 3 === 0, lit(null).cast("string"))
      .when($"doc_id" % 3 === 1, lit(""))
      .otherwise($"lang")
    val b = when($"doc_id" % 2 === 0, $"source").otherwise(lit(""))
    Tables(s, dir).documents
      .select($"doc_id", PF.mergeColumns(a, b).as("merged"))
      .orderBy($"doc_id")
  }

  // q62: the reference's T4 regex date-range split, all four branches.
  def dateSplitQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d1 = date_format($"o_orderdate", "dd/MM/yyyy")
    val d2 = date_format($"o_orderdate" + expr("INTERVAL 30 DAYS"), "dd/MM/yyyy")
    val text = when($"o_orderkey" % 4 === 0, concat(lit("Du "), d1, lit(" au "), d2))
      .when($"o_orderkey" % 4 === 1, concat(lit("depuis le "), d1))
      .when($"o_orderkey" % 4 === 2, concat(lit("jusqu'au "), d1))
      .otherwise(lit("sans date"))
    val r = PF.splitDateRange(text)
    Tables(s, dir).orders
      .select($"o_orderkey", text.as("raw_text"),
        r.getField("start").as("date_debut"), r.getField("end").as("date_fin"))
      .orderBy($"o_orderkey")
  }

  // q117: inverted-index build — the search-infrastructure face of the
  // text surface: token → document frequency + posting-list fingerprint.
  // One (doc, token) row per distinct token per doc (a fused
  // array_distinct is cheap on ~50-token arrays), one token-keyed
  // shuffle builds every posting list; at 100 TB that shuffle IS how
  // index segments shard by term. The posting list is sorted before
  // fingerprinting, so the md5 is order-independent; top-200 by
  // (df desc, tok) is a total order.
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.operators.Relational.spread(Tables(s, dir).documents, $"doc_id")
      .select($"doc_id", explode(array_distinct(PF.tokens($"text"))).as("tok"))
      .groupBy($"tok")
      .agg(count(lit(1)).as("df"),
        min($"doc_id").as("first_doc"),
        max($"doc_id").as("last_doc"),
        PF.idsFingerprint($"doc_id").as("postings_md5"))
      .orderBy($"df".desc, $"tok".asc)
      .limit(200)
  }

  // q118: weight-proportional document sampling — longer documents carry
  // more training signal, so sample with p = min(n_chars, 800)/1000. One
  // stateless per-row md5 filter (the stratified sampler's recipe):
  // retry-stable, cluster-size-independent, no RNG state to coordinate,
  // and bit-identical in the oracle. The per-lang id fingerprint pins the
  // exact sample membership, not just its size.
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.TrainingData
    val h = TrainingData.hashBucket($"doc_id", 1000)
    Tables(s, dir).documents
      .filter(h < least($"n_chars", lit(800L)))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_sampled"),
        sum($"n_chars").cast("long").as("chars_sampled"),
        min($"doc_id").as("min_doc"),
        max($"doc_id").as("max_doc"),
        PF.idsFingerprint($"doc_id").as("ids_md5"))
      .orderBy($"lang")
  }

  // q159: bounded token co-occurrence PMI — which token pairs appear in
  // the same document far more often than chance. The fan-out is BOUNDED
  // BY CONSTRUCTION: each document contributes its first 20 distinct
  // ≥4-char tokens (sorted, so "first" is deterministic), giving ≤190
  // pairs per document at ANY corpus scale — the difference between a
  // pair join that survives 100 TB and one that explodes quadratically in
  // document length. The pair self-join shuffles on doc_id (bounded rows
  // per key), the document-frequency join on token. PMI's only doubles
  // are one division and one log2 on exact integer counts.
  def tokenPmi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keyToks = slice(array_sort(array_distinct(
      filter(PF.tokens($"text"), t => length(t) >= 4))), 1, 20)
    val toks = Tables(s, dir).documents
      .select($"doc_id", explode(keyToks).as("tok"))
    val nDocs = Tables(s, dir).documents.agg(count(lit(1)).as("n_docs"))
    val pairs = toks.as("a")
      .join(toks.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("tok_a"), col("b.tok").as("tok_b"))
      .agg(count(lit(1)).as("c_ab"))
      .filter($"c_ab" >= 5)
    val df = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    pairs
      .join(df.select($"tok".as("tok_a"), $"c".as("c_a")), Seq("tok_a"))
      .join(df.select($"tok".as("tok_b"), $"c".as("c_b")), Seq("tok_b"))
      .crossJoin(broadcast(nDocs))
      .select($"tok_a", $"tok_b", $"c_ab", $"c_a", $"c_b",
        round(log2(($"c_ab" * $"n_docs").cast("double") / ($"c_a" * $"c_b")), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"tok_a", $"tok_b")
      .limit(20)
  }

  // q163: per-source language-mix entropy — corpus-composition telemetry
  // (is a crawl source monolingual or mixed?). Same integer-count entropy
  // identity as q134 (H = log2 n − Σ c·log2 c / n) lifted from chars to
  // (source, lang) counts. Cross-engine float contract (the q303
  // pinned-constant pattern): each log2 is pinned to integer MICRO-units
  // at its source — round(log2(c)·1e6) as a long — so Σ c·log2c_micro is
  // an exact integer sum (order-free; a raw double Σ would carry each
  // engine's addition order in its low bits), and the entropy is ONE
  // correctly-rounded IEEE division of exact longs:
  //   H = (n·log2n_micro − Σ c·log2c_micro) / (n · 1e6).
  def sourceEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val micro = (x: org.apache.spark.sql.Column) => round(log2(x) * 1000000.0).cast("long")
    val counts = Tables(s, dir).documents
      .groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
    counts.groupBy($"source")
      .agg(sum($"c").cast("long").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum($"c" * micro($"c")).cast("long").as("_sclc_u"))
      .select($"source", $"n_docs", $"n_langs",
        (($"n_docs" * micro($"n_docs") - $"_sclc_u").cast("double") /
          ($"n_docs" * lit(1000000L)).cast("double")).as("lang_entropy"))
      .orderBy($"source")
  }

  // q177: explode_outer semantics — generator rows must NOT drop parents
  // with empty arrays (the left-join-shaped explode every enrichment
  // pipeline eventually needs). Rare ≥8-char tokens leave ~20% of docs with empty arrays; the per-lang accounting separates real token rows from
  // preserved empty-parent rows. Oracle mirrors outer semantics by
  // unnesting a [NULL] sentinel for empty lists.
  def explodeOuterFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = filter(PF.tokens($"text"), t => length(t) >= 8)
    Tables(s, dir).documents
      .select($"lang", explode_outer(toks).as("tok"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_rows"),
        count($"tok").as("n_tok_rows"),
        sum(when($"tok".isNull, 1L).otherwise(0L)).cast("long")
          .as("n_docs_empty"),
        countDistinct($"tok").as("n_distinct"))
      .orderBy($"lang")
  }

  // q193: word-length histogram per language — the vocabulary-shape
  // telemetry behind tokenizer-fertility decisions. Integer buckets
  // (length capped at 15), one explode + one keyed aggregate.
  def wordLenHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"lang", explode(PF.tokens($"text")).as("tok"))
      .groupBy($"lang", least(length($"tok"), lit(15)).as("len_bucket"))
      .agg(count(lit(1)).as("n_tokens"))
      .orderBy($"lang", $"len_bucket")
  }

  // q198: nucleus (top-p) vocabulary size — per document, the smallest
  // set of token types covering 80% of token mass (the top-p truncation
  // statistic, here as a redundancy signal). The inclusion test is pure
  // integer arithmetic — a type is in the nucleus iff the mass BEFORE it
  // (frequency-desc, token-asc order) is under 4/5 of the total — so the
  // boundary can't flip cross-engine. Windows partition by doc.
  def nucleusSize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = graft.operators.Relational
      .spread(Tables(s, dir).documents.select($"doc_id", $"text"), $"doc_id")
      .select($"doc_id", explode(PF.tokens($"text")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val wOrd = Window.partitionBy($"doc_id").orderBy($"c".desc, $"tok".asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy($"doc_id")
    counts
      .select($"doc_id", $"c",
        sum($"c").over(wOrd).as("cum"),
        sum($"c").over(wAll).as("total"),
        count(lit(1)).over(wAll).as("n_types"))
      .groupBy($"doc_id")
      .agg(max($"n_types").cast("long").as("n_types"),
        max($"total").cast("long").as("n_tokens"),
        sum(when(($"cum" - $"c") * 5 < $"total" * 4, 1L).otherwise(0L))
          .cast("long").as("nucleus_types"))
      .select($"doc_id", $"n_types", $"n_tokens", $"nucleus_types",
        round($"nucleus_types".cast("double") / $"n_types", 6)
          .as("nucleus_ratio"))
      .orderBy($"doc_id")
  }

  // q213: hapax legomena rate — share of vocabulary appearing exactly
  // once per language (the Zipf-tail richness signal that predicts
  // tokenizer OOV pressure). One (lang, token) aggregate, integer
  // conditionals, one mirrored division.
  def hapaxRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"lang", explode(PF.tokens($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("vocab_size"),
        sum($"c").cast("long").as("n_tokens"),
        sum(when($"c" === 1, 1L).otherwise(0L)).cast("long").as("n_hapax"))
      .select($"lang", $"vocab_size", $"n_tokens", $"n_hapax",
        round($"n_hapax".cast("double") / $"vocab_size", 6).as("hapax_rate"))
      .orderBy($"lang")
  }

  // q228: Zipf rank-frequency slope — OLS fit of ln(freq) on ln(rank)
  // over the corpus token distribution (natural-language corpora slope
  // ≈ −1; a drifting slope flags synthetic/degenerate text). Cross-engine
  // float contract (the q303 pinned-constant pattern): both regressors
  // are pinned to integer MICRO-units at the source — round(ln(·)·1e6) as
  // longs — so the four OLS sums are EXACT integers (xm·ym < 2^53 per
  // element; the Σs ride DECIMAL(38,0)/HUGEINT accumulators, order-free),
  // the closed forms  slope = (n·Σxy − ΣxΣy)/(n·Σxx − Σx²)  and
  // intercept = (ΣyΣxx − ΣxΣxy)/(n·Σxx − Σx²)/1e6  are exact-integer
  // ratios, and the only float ops are the final conversions+division
  // (≤1 ulp of engine slack from >2^53 int→double conversion, absorbed
  // by round(·, 6)). |vocab| is bounded by distinct-token count at any
  // corpus scale, so the DECIMAL headroom (~1e33 of 1e38) holds.
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables(s, dir).documents
      .select(explode(PF.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
    val ranked = graft.operators.Relational.globalRank(counts,
      Seq($"c".desc, $"tok"), "rank")
      .select(round(log($"rank".cast("double")) * 1000000.0).cast("long").as("xm"),
        round(log($"c".cast("double")) * 1000000.0).cast("long").as("ym"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    ranked.agg(count(lit(1)).as("_n"), sum(dec($"xm")).as("_sx"),
        sum(dec($"ym")).as("_sy"), sum(dec($"xm" * $"ym")).as("_sxy"),
        sum(dec($"xm" * $"xm")).as("_sxx"))
      .select($"_n".as("n_terms"),
        round(($"_n" * $"_sxy" - $"_sx" * $"_sy").cast("double") /
          ($"_n" * $"_sxx" - $"_sx" * $"_sx").cast("double"), 6).as("slope"),
        round(($"_sy" * $"_sxx" - $"_sx" * $"_sxy").cast("double") /
          ($"_n" * $"_sxx" - $"_sx" * $"_sx").cast("double") / 1000000.0, 6)
          .as("intercept"))
  }

  // q229: document-length survival curve — P(n_chars ≥ L) for a fixed
  // threshold ladder: the truncation-policy design table (pick max_len to
  // keep X% of docs). One scan, |thresholds| conditional counts — the
  // explode is over the 5-row constant ladder, not the corpus.
  def lengthSurvival(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents.select($"n_chars")
    val tot = docs.agg(count(lit(1)).as("n_docs"))
    val ladder = Seq(50, 100, 200, 400, 800).toDF("threshold")
    docs.crossJoin(broadcast(ladder))
      .groupBy($"threshold")
      .agg(sum(when($"n_chars" >= $"threshold", 1L).otherwise(0L))
        .as("n_surviving"))
      .crossJoin(broadcast(tot))
      .select($"threshold".cast("int").as("threshold"), $"n_surviving",
        $"n_docs",
        round($"n_surviving".cast("double") / $"n_docs", 6).as("frac"))
      .orderBy($"threshold")
  }

  // q247: vocabulary coverage curve — what fraction of all token
  // occurrences the top-k vocabulary covers, for a k ladder: the
  // tokenizer-budget design table. The corpus reduces to |vocab| counts
  // once (pinned — the ladder fan-out and the total must not re-explode
  // the corpus), ranks come from the distributed globalRank, and the
  // ladder join is a broadcast of 4 constants.
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = Tables(s, dir).documents
      .select(explode(PF.tokens($"text")).as("tok"))
      .groupBy($"tok").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ranked = graft.operators.Relational.globalRank(counts,
      Seq($"c".desc, $"tok"), "rank")
    val tot = counts.agg(sum($"c").cast("long").as("tot"))
    val ladder = Seq(10, 20, 50, 100).toDF("k")
    ranked.crossJoin(broadcast(ladder)).filter($"rank" <= $"k")
      .groupBy($"k")
      .agg(count(lit(1)).as("n_terms"), sum($"c").cast("long").as("covered"))
      .crossJoin(broadcast(tot))
      .select($"k".cast("int").as("k"), $"n_terms", $"covered",
        round($"covered".cast("double") / $"tot", 6).as("coverage"))
      .orderBy($"k")
  }

  // q280: regular-expression extraction battery — per-document counts,
  // first match, and an order-preserving md5 fingerprint of ALL matches:
  // the screens a text-cleaning pipeline runs on every document. Patterns
  // stay inside the POSIX-class subset where Java regex (Spark) and RE2
  // (DuckDB) agree. Pure per-row map: composes with scan pruning, no
  // shuffle, codegen end to end.
  def regexBattery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents.select($"doc_id",
      expr("size(regexp_extract_all(text, '[0-9]+', 0))").cast("long").as("n_numbers"),
      expr("size(regexp_extract_all(text, '[A-Z][a-z]+', 0))").cast("long").as("n_capwords"),
      expr("regexp_extract(text, '[0-9]+', 0)").as("first_number"),
      md5(expr("array_join(regexp_extract_all(text, '[A-Z][a-z]+', 0), ',')")
        .cast("binary")).as("caps_md5"))
      .orderBy($"doc_id")
  }

  // q285: content-defined chunking — chunk boundaries picked by the
  // CONTENT (hash of the 8-gram at each position ≡ 0 mod 64), not by
  // fixed offsets, so an insertion early in a document shifts only the
  // chunk it lands in and every later chunk keeps its identity — the
  // property that makes chunk-level dedup survive document edits (FastCDC
  // / restic's contract; q92's fixed-size chunker loses all alignment
  // after one insert). Pure per-row array work: boundary detection,
  // cut-point assembly and length stats all happen inside higher-order
  // functions — no explode, no shuffle, composes with scan pruning. A
  // production chunker swaps the md5 probe for a gear/rolling hash (q55's
  // RollingHash expression); md5 here keeps the face engine-agreeing
  // bit-for-bit. Fingerprint = md5 of the comma-joined chunk lengths
  // (order-preserving).
  /** q285/q300 shared: content-defined cut positions (rolling 8-byte
    * window hash ≡ 0 mod 64, via the native [[graft.functions.CdcCuts]]
    * expression — one O(n) pass per document) assembled into chunk
    * bounds [0, cuts…, n]. */
  private def cdcBounds(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables(s, dir).documents
      .select($"doc_id", $"source", $"text", length($"text").as("n_chars"),
        graft.functions.CdcCuts.cdcCuts($"text").as("cuts"))
      .select($"doc_id", $"source", $"text", $"n_chars",
        expr("concat(array(cast(0 as bigint)), cuts, array(cast(n_chars as bigint)))").as("bounds"))
  }

  /** The per-position polynomial-hash spelling of [[cdcBounds]]'s cut
    * rule for the DuckDB oracle (ASCII corpus: bytes ≡ codepoints). */
  private val cdcCutSqlHash: String =
    (1 until 8).foldLeft("CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT)")(
      (acc, j) => s"(($acc * 31 + ascii(substr(text, CAST(i + $j AS INT), 1))) % 1000000007)")

  def cdcChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    cdcBounds(s, dir)
      .select($"doc_id",
        expr("size(bounds) - 1").cast("long").as("n_chunks"),
        expr("array_min(zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> b - a))").as("min_len"),
        expr("array_max(zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> b - a))").as("max_len"),
        md5(expr("array_join(transform(zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> b - a), x -> cast(x as string)), ',')")
          .cast("binary")).as("lens_md5"))
      .orderBy($"doc_id")
  }

  // q300: chunk-level dedup pipeline — the composition that motivated the
  // CDC chunker: split every document at content-defined boundaries
  // (q285), then dedup CHUNKS by content hash across the whole corpus.
  // Because the boundaries are content-addressed, shared passages
  // (boilerplate, quoted blocks, templated sections) hash to identical
  // chunks from ANY document that contains them — chunk-level dedup
  // catches what document-level dedup (q30) and near-dup (q31) both miss:
  // partial overlap inside otherwise-distinct documents. Winner = first
  // (doc_id, pos) occurrence via one row_number over the hash; per-source
  // savings in exact chars and ppm. All per-row array work + ONE
  // (hash)-keyed window + one aggregate: the 100 TB cost is the chunk
  // shuffle, bounded by corpus bytes / expected-chunk-size.
  def chunkDedupPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcBounds(s, dir)
      .select($"doc_id", $"source", posexplode(expr(
        "zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> substring(text, cast(a + 1 as int), cast(b - a as int)))")))
      .select($"doc_id", $"source", $"pos", $"col".as("chunk"))
    val ranked = chunks
      .withColumn("h", md5($"chunk".cast("binary")))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"h").orderBy($"doc_id", $"pos")))
    ranked.groupBy($"source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when($"rn" === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(length($"chunk")).cast("long").as("chars_total"),
        sum(when($"rn" === 1, length($"chunk")).otherwise(0L)).cast("long")
          .as("chars_kept"))
      .select($"source", $"n_chunks", $"n_kept", $"chars_total", $"chars_kept",
        floor(($"chars_total" - $"chars_kept") * lit(1000000L) / $"chars_total")
          .cast("long").as("dedup_ppm"))
      .orderBy($"source")
  }

  // q303: BM25 ranked retrieval — the search-engine scoring function run
  // as one scan + one broadcast stats row: per-document term frequencies
  // come from per-row array filters (NO posting-list explode for a
  // fixed query), corpus statistics (N, Σlen, per-term df) ride a single
  // aggregate, and the three per-term contributions are summed in
  // EXPLICIT expression order — never a float aggregation whose order
  // the engine picks. Cross-engine float contract (the round-6 lesson:
  // identical ln *input* does NOT give identical ln *output* — JVM
  // Math.log and libm ln are each ≤1 ulp off but not the SAME ulp):
  //   1. Each per-term idf is PINNED — round(ln(·), 6) — as part of the
  //      query definition. After pinning, both engines hold the same
  //      double (the transcendental's ulp slack is absorbed unless the
  //      true value sits within ~1 ulp of a 5e-7 boundary — 3 values,
  //      not 20 per-doc chains).
  //   2. The per-doc term is rewritten as a SINGLE division of exact
  //      integers: with k1=1.2=12/10, b=0.75=3/4, avglen=sl/n,
  //        tf·(k1+1) / (tf + k1·(1−b+b·len·n/sl))
  //        = 22·tf·sl / (10·tf·sl + 3·sl + 9·len·n),
  //      so term_i = idf6_i * CAST(int) / CAST(int): long arithmetic is
  //      exact, long→double conversion is identical in both engines
  //      (num/den < 2^53 up to ~10^12 corpus tokens·tf), and *, /, + on
  //      identical doubles in identical association order are IEEE
  //      correctly-rounded → score is bit-identical BY CONSTRUCTION.
  // Top-20 cut is total-ordered by (bit-identical score, doc_id).
  // The 100 TB posture: scoring is embarrassingly parallel map work +
  // TakeOrderedAndProject — no shuffle before the final k rows.
  def bm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = Seq("merge", "window", "stream")
    val t = Tables(s, dir).documents
      .select($"doc_id", PF.tokens($"text").as("toks"))
      .select(($"doc_id" +: size($"toks").cast("long").as("len") +:
        terms.zipWithIndex.map { case (w, i) =>
          size(filter($"toks", x => x === w)).cast("long").as(s"tf$i") }): _*)
    val aggCols = count(lit(1)).as("n") +: sum($"len").as("sl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val st = t.agg(aggCols.head, aggCols.tail: _*)
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i")
      val df = col(s"df$i")
      val idf6 = round(
        log(($"n".cast("double") - df + 0.5) / (df + lit(0.5))), 6)
      idf6 * (tf * lit(22L) * $"sl").cast("double") /
        (tf * lit(10L) * $"sl" + lit(3L) * $"sl" +
          lit(9L) * $"len" * $"n").cast("double")
    }.reduce(_ + _)
    t.crossJoin(broadcast(st))
      .withColumn("score_raw", score)
      .orderBy($"score_raw".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"tf0", $"tf1", $"tf2",
        // + 0.0 normalizes IEEE signed zero on BOTH legs: a zero-tf doc's
        // score is idf6 * ±0.0 = -0.0 when idf6 < 0 (df > n/2 — true for
        // all 3 terms on this corpus). Spark's round() routes through
        // BigDecimal and emits +0.0; DuckDB's keeps -0.0. pandas == calls
        // them equal but the gate's repr-hash does not (r07's only red
        // row). x + 0.0 is the identity for every double EXCEPT -0.0 → +0.0.
        (round($"score_raw", 6) + lit(0.0)).as("score"))
  }

  // q392: LEXICAL (BM25) INDEX MAINTAINED FROM THE CHANGE FEED — the
  // third leg of the incremental-index triad (q354 dedup, q391 ANN):
  // the corpus lives in a versioned manifest table; the search index —
  // per-doc lexical records (len + query-vocabulary tfs; at 100 TB the
  // same shape sharded by term) AND the BM25 corpus statistics — is a
  // downstream materialization of its change feed. The statistics are
  // the INTERESTING part: N, Σlen, and per-term df are distributive
  // aggregates, so they maintain by PARTIAL MERGE (the q100 IVM
  // contract): v1's partials persist with the index, insert events add
  // their delta partials, and delete events SUBTRACT partials looked up
  // in the live index — history text is never re-read and no full
  // recount ever runs. Two appends + one GDPR-shaped delete drive one
  // feed read; require-pinned: (a) the maintained per-doc records equal
  // a from-scratch rebuild of the final snapshot (both exceptAll
  // directions), (b) the MERGED statistics equal a full recount over the
  // maintained index — a drifted counter (the classic silent IVM bug)
  // crashes the gate. Scoring is q303's integer-exact BM25 over the
  // maintained artifacts with the merged stats as the broadcast row; the
  // DuckDB oracle recomputes everything over the surviving corpus.
  def cdfTextIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val terms = Seq("merge", "window", "stream")
    val out = Scratch.dir("q392", dir)
    val docs = Tables(s, dir).documents.select($"doc_id", $"text")
    ManifestTable.commit(docs.filter($"doc_id" % 10 < 8), out, append = false) // v1
    def lex(df: DataFrame): DataFrame =
      df.select($"doc_id", PF.tokens($"text").as("toks"))
        .select(($"doc_id" +: size($"toks").cast("long").as("len") +:
          terms.zipWithIndex.map { case (w, i) =>
            size(filter($"toks", x => x === w)).cast("long").as(s"tf$i") }): _*)
    def partials(df: DataFrame): (Long, Long, Seq[Long]) = {
      val aggCols = count(lit(1)).cast("long").as("n") +:
        coalesce(sum($"len"), lit(0L)).as("sl") +:
        terms.indices.map(i =>
          coalesce(sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)), lit(0L))
            .as(s"df$i"))
      val r = df.agg(aggCols.head, aggCols.tail: _*).head
      (r.getLong(0), r.getLong(1), terms.indices.map(i => r.getLong(2 + i)))
    }
    // the v1 index artifact + its stats partials (both persist together)
    val idx1 = lex(ManifestTable.read(s, out, 1)).localCheckpoint()
    val (n1, sl1, df1) = partials(idx1)
    // the table moves on: two ingest appends + a GDPR erasure
    ManifestTable.commit(docs.filter($"doc_id" % 10 === 8), out, append = true) // v2
    ManifestTable.commit(docs.filter($"doc_id" % 10 === 9), out, append = true) // v3
    ManifestTable.delete(
      docs.filter($"doc_id" % 17 === 0).select($"doc_id"), out, "doc_id")       // v4
    // ONE feed read drives records AND statistics maintenance
    val feed = ManifestTable.changeFeed(s, out, 1).localCheckpoint()
    val ins = feed.filter($"_change_type" === "insert").select($"doc_id", $"text")
    val tomb = feed.filter($"_change_type" === "delete")
      .select($"doc_id").distinct().localCheckpoint()
    require(ins.count() > 0 && tomb.count() > 0,
      "q392: the feed must carry both insert and delete events")
    val idxD = lex(ins).localCheckpoint()
    val idxAll = idx1.unionByName(idxD)
    // delete partials come from the LIVE INDEX (one semi join), never
    // from re-reading history text
    val (nI, slI, dfI) = partials(idxD)
    val (nT, slT, dfT) = partials(idxAll.join(tomb, Seq("doc_id"), "left_semi"))
    val (n, sl) = (n1 + nI - nT, sl1 + slI - slT)
    val dfs = terms.indices.map(i => df1(i) + dfI(i) - dfT(i))
    val idx = idxAll.join(tomb, Seq("doc_id"), "left_anti").localCheckpoint()
    // identity pins: records ≡ rebuild; merged stats ≡ full recount
    val rebuilt = lex(ManifestTable.read(s, out, ManifestTable.currentVersion(out)))
    require(Relational.bagDiff(idx, rebuilt).isEmpty,
      "q392: the feed-maintained index must equal the from-scratch rebuild")
    val (nC, slC, dfC) = partials(idx)
    require(n == nC && sl == slC && dfs == dfC,
      s"q392: merged stats drifted — ($n,$sl,$dfs) vs recount ($nC,$slC,$dfC)")
    // q303's integer-exact BM25 over the maintained artifacts, merged
    // stats as the broadcast row (same expression, same float contract)
    val st = Seq((n, sl, dfs(0), dfs(1), dfs(2)))
      .toDF("n", "sl", "df0", "df1", "df2")
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i")
      val df = col(s"df$i")
      val idf6 = round(
        log(($"n".cast("double") - df + 0.5) / (df + lit(0.5))), 6)
      idf6 * (tf * lit(22L) * $"sl").cast("double") /
        (tf * lit(10L) * $"sl" + lit(3L) * $"sl" +
          lit(9L) * $"len" * $"n").cast("double")
    }.reduce(_ + _)
    idx.crossJoin(broadcast(st))
      .withColumn("score_raw", score)
      .orderBy($"score_raw".desc, $"doc_id")
      .limit(20)
      .select($"doc_id", $"tf0", $"tf1", $"tf2",
        (round($"score_raw", 6) + lit(0.0)).as("score"))
  }

  // q393: SLIDING-WINDOW DOCUMENT CHUNKING — the RAG-ingest counterpart
  // of the content-defined chunker (q285/q300): fixed 64-token windows
  // at stride 48 (16-token overlap), the convention embedding pipelines
  // feed their encoders. Start offsets are a per-row `sequence()`
  // explode — pure codegen, no UDF, no shuffle before the output sort —
  // and each chunk pins its CONTENT with an md5 over the space-joined
  // token window, so a one-token boundary drift anywhere moves the gate
  // hash. At 100 TB chunking is embarrassingly parallel map work whose
  // output feeds q391's feed-maintained embedding index and q394's
  // chunk-granular retrieval; the 25% overlap is the standard recall/
  // storage trade (boundary-straddling passages appear whole in at
  // least one window).
  private val ChunkW = 64
  private val ChunkS = 48
  def docChunks(s: SparkSession, dir: String, docs0: DataFrame = null): DataFrame = {
    import s.implicits._
    val docs = Option(docs0).getOrElse(Tables(s, dir).documents)
    docs.select($"doc_id", PF.tokens($"text").as("toks"))
      .withColumn("len", size($"toks").cast("long"))
      .filter($"len" > 0)
      .select($"doc_id", $"len", $"toks",
        explode(sequence(lit(0L),
          (($"len" - 1L) / ChunkS).cast("long") * ChunkS,
          lit(ChunkS.toLong))).as("start"))
      .select($"doc_id", ($"start" / ChunkS).cast("long").as("chunk_idx"),
        least(lit(ChunkW.toLong), $"len" - $"start").as("n_tokens"),
        slice($"toks", ($"start" + 1L).cast("int"), lit(ChunkW)).as("ct"))
  }
  def slidingChunks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docChunks(s, dir)
      .select($"doc_id", $"chunk_idx", $"n_tokens",
        md5(concat_ws(" ", $"ct")).as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  // q394: SMALL-TO-BIG CHUNK RETRIEVAL — retrieval scores CHUNKS (the
  // granularity encoders and rerankers actually see), the answer returns
  // PARENT DOCUMENTS: per (query, doc) keep the BEST chunk (max score,
  // tie → smallest chunk_idx), then rank docs per query — the
  // "small-to-big" pattern every production RAG stack runs so a long
  // document can't dilute its one highly-relevant passage (which is
  // exactly what whole-doc Jaccard does to it). Scoring is the q386
  // lexical contract chunk-granular: distinct-token Jaccard vs the query
  // doc, every score one exact-integer division (cross-engine
  // bit-identical). Scale: the 5 query docs' tokens broadcast, candidate
  // volume = Σ matched tokens (never corpus × chunks), the two windows
  // partition by (q_id, doc_id) then q_id over candidate-sized inputs
  // only.
  def chunkRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val chunks = docChunks(s, dir)
      .select($"doc_id", $"chunk_idx",
        array_distinct($"ct").as("cts"))
      .select($"doc_id", $"chunk_idx",
        size($"cts").cast("long").as("cn"), $"cts")
    val qtok = docs.filter($"doc_id" < 5)
      .select($"doc_id".as("q_id"),
        explode(array_distinct(PF.tokens($"text"))).as("w"))
    val qsz = qtok.groupBy($"q_id").agg(count(lit(1)).as("qn"))
    val inter = chunks
      .select($"doc_id", $"chunk_idx", $"cn", explode($"cts").as("w"))
      .join(broadcast(qtok), Seq("w"))
      .filter($"doc_id" =!= $"q_id")
      .groupBy($"q_id", $"doc_id", $"chunk_idx", $"cn")
      .agg(count(lit(1)).as("i"))
    val scored = inter.join(broadcast(qsz), Seq("q_id"))
      .select($"q_id", $"doc_id", $"chunk_idx",
        ($"i".cast("double") / ($"qn" + $"cn" - $"i")).as("jac"))
    val best = Relational.topKPerGroup(scored, Seq($"q_id", $"doc_id"),
        Seq($"jac".desc, $"chunk_idx".asc), 1, rankCol = "_bc")
      .select($"q_id", $"doc_id", $"chunk_idx", $"jac")
    Relational.topKPerGroup(best, Seq($"q_id"),
        Seq($"jac".desc, $"doc_id".asc), 10, rankCol = "rank")
      .select($"q_id", $"doc_id", $"chunk_idx",
        round($"jac", 6).as("jac"), $"rank")
      .orderBy($"q_id", $"rank")
  }

  // q304: the SQL leg of the native CDC chunker — `cdc_cuts` reached
  // through its GraftExtensions registration (q197's pattern for
  // dot_product): plain SQL text over a temp view, proving a SQL-only
  // user gets the same native expression the Column API exposes. The
  // chunk-count histogram doubles as a distribution audit for the
  // chunker (expected-64-byte geometric-ish spread).
  def cdcCutsSql(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).documents.createOrReplaceTempView("documents")
    s.sql(
      """SELECT CAST(size(cdc_cuts(text)) + 1 AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1 ORDER BY n_chunks""".stripMargin)
  }

  // q312: chunk-level contamination scan — q79 asks "does a training DOC
  // overlap a benchmark"; this asks the sharper question modern decontam
  // pipelines ask: does any content-defined CHUNK of a training document
  // appear verbatim in the benchmark set? Because CdcCuts boundaries are
  // content-addressed, a leaked passage chunks identically on both sides
  // no matter where it sits in its document — so detection is ONE
  // hash-equi join of training chunk hashes against the (small,
  // broadcast) benchmark chunk-hash set; no pairwise text comparison
  // anywhere. Benchmark = every 37th doc (stand-in for the eval suite);
  // report = per-source contaminated docs/chunks/chars.
  def chunkContamination(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcBounds(s, dir)
      .select($"doc_id", $"source", posexplode(expr(
        "zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> substring(text, cast(a + 1 as int), cast(b - a as int)))")))
      .select($"doc_id", $"source", $"pos", md5($"col".cast("binary")).as("h"),
        length($"col").as("len"))
    val bench = chunks.filter($"doc_id" % 37 === 0).select($"h").distinct()
    val train = chunks.filter($"doc_id" % 37 =!= 0)
    train.join(broadcast(bench), Seq("h"), "left_semi")
      .groupBy($"source")
      .agg(countDistinct($"doc_id").as("n_contaminated_docs"),
        count(lit(1)).as("n_leaked_chunks"),
        sum($"len").cast("long").as("leaked_chars"))
      .orderBy($"source")
  }

  // q313: boilerplate detection — chunks recurring across MANY DISTINCT
  // documents (df ≥ 5) are templates/headers/navigation, the content a
  // quality pipeline strips before training. CDC chunking makes the
  // detector positional-shift-proof; the df aggregate keys on the chunk
  // hash (one shuffle of hashes, never text), and the report is the
  // per-source boilerplate share in exact ppm.
  def boilerplateDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chunks = cdcBounds(s, dir)
      .select($"doc_id", $"source", explode(expr(
        "zip_with(slice(bounds, 1, size(bounds) - 1), slice(bounds, 2, size(bounds) - 1), (a, b) -> substring(text, cast(a + 1 as int), cast(b - a as int)))")).as("chunk"))
      .select($"doc_id", $"source", md5($"chunk".cast("binary")).as("h"),
        length($"chunk").as("len"))
    val df5 = chunks.select($"h", $"doc_id").distinct()
      .groupBy($"h").agg(count(lit(1)).as("docfreq"))
      .filter($"docfreq" >= 5)
    chunks.join(broadcast(df5.select($"h")), Seq("h"), "left_semi")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_boiler_chunks"),
        sum($"len").cast("long").as("boiler_chars"))
      .join(chunks.groupBy($"source")
        .agg(sum($"len").cast("long").as("total_chars")), Seq("source"))
      .select($"source", $"n_boiler_chunks", $"boiler_chars", $"total_chars",
        floor($"boiler_chars" * lit(1000000L) / $"total_chars").cast("long")
          .as("boiler_ppm"))
      .orderBy($"source")
  }

  // q353: LANGUAGE-ID by character-trigram profiles — the classic n-gram
  // heuristic (Cavnar-Trenkle shape, overlap-scored): TRAIN (doc_id%10<8)
  // builds each language's top-50 trigram profile (count desc, trigram
  // asc tie-break — deterministic); TEST docs score each language by how
  // many of their DISTINCT trigrams hit that language's profile, predict
  // the argmax (score desc, lang asc), and the face emits the confusion
  // matrix. All counts are integers, the profile is a |langs|×50
  // broadcast, and the scan is one trigram explode — at 100 TB this is a
  // map-side classify against a driver-sized model, no shuffle beyond
  // the per-doc score aggregate. Honesty note: the synthetic corpus
  // draws every language's text from the same 31-word vocabulary, so
  // accuracy here is near-chance BY CONSTRUCTION — the face pins the
  // MECHANISM (profile build, overlap scoring, deterministic argmax,
  // confusion accounting) via the oracle's full recompute, which is what
  // transfers to a real corpus where trigram distributions do separate.
  def languageId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents.select($"doc_id", $"lang", $"text")
    def trigrams(df: DataFrame): DataFrame = df
      .select($"doc_id", $"lang", $"text",
        explode(sequence(lit(1), length($"text") - 2)).as("i"))
      .select($"doc_id", $"lang", expr("substring(text, i, 3)").as("tg"))
    val train = trigrams(docs.filter($"doc_id" % 10 < 8))
    val profile = graft.operators.Relational.topKPerGroup(
      train.groupBy($"lang", $"tg").agg(count(lit(1)).as("n")),
      Seq(col("lang")), Seq(col("n").desc, col("tg").asc), 50, rankCol = "r")
      .select($"lang".as("plang"), $"tg")
    val test = trigrams(docs.filter($"doc_id" % 10 >= 8))
      .select($"doc_id", $"lang", $"tg").distinct()
    val scores = test.join(broadcast(profile), Seq("tg"))
      .groupBy($"doc_id", $"lang", $"plang")
      .agg(count(lit(1)).as("score"))
    val pred = graft.operators.Relational.topKPerGroup(scores,
      Seq(col("doc_id")), Seq(col("score").desc, col("plang").asc), 1,
      rankCol = "pr")
      .select($"doc_id", $"lang", $"plang".as("predicted"))
    pred.groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n_docs"))
      .orderBy($"lang", $"predicted")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q353_language_id" -> languageId _,
    "q285_cdc_chunks" -> cdcChunks _,
    "q394_chunk_retrieval" -> chunkRetrieval _,
    "q393_sliding_chunks" -> slidingChunks _,
    "q407_luhn_scrub" -> luhnScrub _,
    "q392_cdf_text_index" -> cdfTextIndex _,
    "q303_bm25" -> bm25 _,
    "q304_cdc_cuts_sql" -> cdcCutsSql _,
    "q312_chunk_contamination" -> chunkContamination _,
    "q313_boilerplate" -> boilerplateDetect _,
    "q300_chunk_dedup" -> chunkDedupPipeline _,
    "q280_regex_battery" -> regexBattery _,
    "q247_vocab_coverage" -> vocabCoverage _,
    "q228_zipf_slope" -> zipfSlope _,
    "q229_length_survival" -> lengthSurvival _,
    "q213_hapax_rate" -> hapaxRate _,
    "q198_nucleus_size" -> nucleusSize _,
    "q193_wordlen_hist" -> wordLenHist _,
    "q177_explode_outer" -> explodeOuterFace _,
    "q159_token_pmi" -> tokenPmi _,
    "q163_source_entropy" -> sourceEntropy _,
    "q117_inverted_index" -> invertedIndex _,
    "q118_weighted_sample" -> weightedSample _,
    "q50_token_stats" -> tokenStats _,
    "q51_quality_score" -> qualityScore _,
    "q52_langid_confusion" -> langIdConfusion _,
    "q53_fingerprint" -> fingerprint _,
    "q54_tfidf_top_terms" -> tfidfTopTerms _,
    "q55_rolling_fingerprint" -> rollingFingerprint _,
    "q60_strip_accents" -> stripAccentsQ _,
    "q61_merge_columns" -> mergeColumnsQ _,
    "q62_date_split" -> dateSplitQ _,
    "q98_count_min" -> countMinHeavyHitters _,
    "q102_bpe_pairs" -> bpePairCounts _,
    "q104_rare_trigram" -> rareTrigramScore _,
    "q105_vocab_encode" -> vocabEncode _,
    "q106_rank_drift" -> rankDrift _,
    "q127_heavy_hitters" -> heavyHitters _,
    "q131_oov_rate" -> oovRate _,
    "q133_bigram_lm" -> bigramLm _,
    "q134_char_entropy" -> charEntropy _,
    "q147_array_setops" -> arraySetOps _
  )

  // q127: exact per-group heavy hitters — top-3 tokens per lang with a
  // total order (count desc, token asc). The rank≤3 predicate compiles to
  // WindowGroupLimit (Spark 3.5+): each map task keeps only its local
  // top-3 per lang BEFORE the exchange, so the per-lang sort never sees
  // the full vocabulary — the exact-top-k shape that survives a 100 TB
  // corpus (the sketch-based companion is q98's count-min). Guarded in
  // PlanGuardSpec alongside q116.
  def heavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"c".desc, $"tok")
    Tables(s, dir).documents
      .select($"lang", explode(PF.tokens($"text")).as("tok"))
      .groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= 3)
      .select($"lang", $"rnk".cast("long").as("rnk"), $"tok", $"c")
      .orderBy($"lang", $"rnk")
  }

  // q131: out-of-vocabulary rate — a corpus-relative quality signal: the
  // vocab is every token covering ≥ 0.1% of all occurrences (the
  // integer inequality c*1000 ≥ total is exact on both engines, and the
  // threshold scales with the corpus — q33's aging-cap lesson). By
  // construction ≤ 1000 tokens can each hold ≥ 0.1%, so the vocab side
  // is broadcast-bounded no matter how big the corpus; per-doc OOV is a
  // broadcast-probe, never a token-keyed shuffle of the corpus.
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir).documents
      .select($"doc_id", $"lang", explode(PF.tokens($"text")).as("tok"))
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum($"c").as("total"))
    val vocab = counts.crossJoin(broadcast(total))
      .filter($"c" * 1000L >= $"total")
      .select($"tok", lit(1).as("_in"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tok"),
        sum(when($"_in".isNull, 1L).otherwise(0L)).as("n_oov"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("total_tokens"),
        sum($"n_oov").as("total_oov"),
        round(avg($"n_oov".cast("double") / $"n_tok"), 6).as("avg_oov_rate"))
      .orderBy($"lang")
  }

  // q134: per-document character entropy — the distribution-shape quality
  // signal (gibberish and template spam sit at the entropy extremes).
  // H = log2(n) − Σ c·log2(c) / n over per-char counts; per-doc sums run
  // over ≤ |alphabet| terms, so round-6 absorbs FP association order.
  // The corpus is ASCII (verified), where Spark's UTF-16 split and
  // DuckDB's codepoint split agree; a multilingual corpus would need a
  // codepoint-explicit splitter. The doc_id spread pins fan-out for the
  // byte-small → per-char CPU-heavy explode (q104's AQE finding); both
  // aggregates then run partition-local.
  def charEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val chars = graft.operators.Relational
      .spread(Tables(s, dir).documents.select($"doc_id", $"text"), $"doc_id")
      .select($"doc_id", explode(split($"text", "")).as("ch"))
      .filter(length($"ch") > 0) // empty-text artifact differs per engine
    chars.groupBy($"doc_id", $"ch").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_chars"),
        count(lit(1)).as("n_distinct"),
        round(log2(sum($"c")) - sum($"c" * log2($"c")) / sum($"c"), 6).as("entropy"))
      .orderBy($"doc_id")
  }

  // q133: bigram language-model scoring — perplexity-style quality: train
  // add-one-smoothed bigram probabilities ON the corpus, score each doc
  // by its mean log2 P(w_i | w_{i-1}). History counts c(w1) are counts
  // over history POSITIONS (every token but each doc's last), so the
  // model normalizes exactly: Σ_w2 P(w2|w1) = 1. The probability/count
  // joins are token-keyed shuffles of the exploded corpus — the standard
  // LM-training shape; the smoothing denominator |V| rides a broadcast
  // 1-row frame. Per-doc means are sums of ≤ |doc| log terms → round-6
  // absorbs FP association order (and the ≤1 ulp libm log2 spread).
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // bigrams via the shifted-array zip_with (q102's shape) — a pure
    // per-row generator, where a posexplode + lead() window would sort
    // every doc partition just to recover adjacency the array already has
    val docs = graft.operators.Relational
      .spread(Tables(s, dir).documents.select($"doc_id", $"text"), $"doc_id")
      .select($"doc_id", PF.tokens($"text").as("t"))
    val bi = docs.filter(size($"t") >= 2)
      .select($"doc_id", explode(zip_with(
        slice($"t", lit(1), size($"t") - 1),
        slice($"t", lit(2), size($"t") - 1),
        (a, b) => struct(a.as("tok"), b.as("next")))).as("bg"))
      .select($"doc_id", $"bg.tok".as("tok"), $"bg.next".as("next"))
    val cu = bi.groupBy($"tok").agg(count(lit(1)).as("cu"))
    val c2 = bi.groupBy($"tok", $"next").agg(count(lit(1)).as("cb"))
    val v = docs.select(explode($"t").as("tok"))
      .agg(countDistinct($"tok").as("v"))
    // assemble P(w2|w1) on the |bigram-TYPES| table first (c2 ⋈ cu is
    // types-sized), so the exploded corpus shuffles ONCE — against the
    // finished probability table — instead of once per count table
    val probs = c2.join(cu, Seq("tok")).crossJoin(broadcast(v))
      .select($"tok", $"next",
        log2(($"cb" + lit(1)).cast("double") / ($"cu" + $"v")).as("lp"))
    bi.join(probs, Seq("tok", "next"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"), round(avg($"lp"), 6).as("avg_log2p"))
      .orderBy($"doc_id")
  }

  // q147: array set operations — per-doc distinct tokens intersected /
  // subtracted against a constant stopword set (array_intersect /
  // array_except ≡ DuckDB list_intersect / list_filter-not-contains).
  // Set results are ORDER-ARBITRARY on both engines, so every derived
  // value is a size or a sorted join (the q124 map lesson applied to
  // arrays); the empty-intersection case coalesces to '' because
  // DuckDB's string_agg of an empty list is NULL where Spark's
  // array_join is ''.
  def arraySetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stop = array(stopwords.map(lit): _*)
    Tables(s, dir).documents
      .select($"doc_id", array_distinct(PF.tokens($"text")).as("u"))
      .select($"doc_id",
        size($"u").cast("long").as("n_distinct"),
        size(array_intersect($"u", stop)).cast("long").as("n_stop"),
        size(array_except($"u", stop)).cast("long").as("n_nonstop"),
        array_join(array_sort(array_intersect($"u", stop)), ",").as("stops_sorted"))
      .orderBy($"doc_id")
  }

  // q407: LUHN-VALIDATED CARD SCRUB — the PII class q67's email/phone
  // regexes can't serve: a 13-19 digit run is only a payment card if its
  // LUHN CHECKSUM holds, and redacting every digit run would maul
  // order ids, timestamps, and hashes (the candidates column counts how
  // much a checksum-free scrubber would have destroyed). Detection is
  // regexp_extract_all → filter(luhn_check) — Spark's native codegen'd
  // Luhncheck expression inside a higher-order filter, zero UDFs, pure
  // map-side work at any scale. The corpus is salted deterministically:
  // every doc_id%7=0 doc gains a Luhn-VALID test number (detection
  // require-pinned complete), doc_id%7=1 an INVALID twin (same shape,
  // fails the checksum — only the checksum separates them). The oracle
  // re-implements Luhn digit-by-digit in SQL, so the two engines agree
  // on the full candidate set, validity, and redacted volume.
  def luhnScrub(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
      .select($"doc_id", $"source",
        concat($"text",
          when($"doc_id" % 7 === 0, lit(" card 4539148803436467"))
            .when($"doc_id" % 7 === 1, lit(" card 4539148803436468"))
            .otherwise(lit(""))).as("text2"))
    val scanned = docs.select($"doc_id", $"source",
      expr("regexp_extract_all(text2, '[0-9]{13,19}', 0)").as("cands"))
      .select($"doc_id", $"source", $"cands",
        expr("filter(cands, c -> luhn_check(c))").as("valid"))
    require(scanned.filter($"doc_id" % 7 === 0 && size($"valid") === 0).isEmpty,
      "q407: every salted Luhn-valid card must be detected")
    scanned.groupBy($"source")
      .agg(sum(when(size($"valid") > 0, 1L).otherwise(0L)).as("n_docs_with_card"),
        sum(size($"valid")).cast("long").as("n_cards"),
        sum(size($"cands")).cast("long").as("n_candidates"),
        sum(expr("aggregate(valid, 0L, (a, c) -> a + length(c))"))
          .cast("long").as("redacted_chars"))
      .orderBy($"source")
  }

  private val wordsSql =
    "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"

  val oracles: Map[String, String] = Map(
    // Luhn re-implemented digit-by-digit (right-to-left, odd positions
    // verbatim, even doubled with the >9 fold); empty list_sum is NULL
    // in DuckDB, hence the coalesces
    "q407_luhn_scrub" ->
      """WITH t AS (SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' card 4539148803436467'
        |         WHEN doc_id % 7 = 1 THEN ' card 4539148803436468'
        |         ELSE '' END AS text2 FROM documents),
        |c0 AS (SELECT doc_id, source,
        |    regexp_extract_all(text2, '[0-9]{13,19}') AS cands FROM t),
        |cd AS (SELECT doc_id, source, cands,
        |    list_filter(cands, c -> list_sum(list_transform(
        |      range(1, length(c) + 1),
        |      i -> CASE
        |        WHEN i % 2 = 1 THEN CAST(c[CAST(length(c) - i + 1 AS INT)] AS INT)
        |        WHEN 2 * CAST(c[CAST(length(c) - i + 1 AS INT)] AS INT) > 9
        |          THEN 2 * CAST(c[CAST(length(c) - i + 1 AS INT)] AS INT) - 9
        |        ELSE 2 * CAST(c[CAST(length(c) - i + 1 AS INT)] AS INT)
        |      END)) % 10 = 0) AS valid
        |  FROM c0)
        |SELECT source,
        |  CAST(sum(CASE WHEN len(valid) > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_with_card,
        |  CAST(sum(len(valid)) AS BIGINT) AS n_cards,
        |  CAST(sum(len(cands)) AS BIGINT) AS n_candidates,
        |  CAST(sum(coalesce(list_sum(list_transform(valid, c -> length(c))), 0))
        |    AS BIGINT) AS redacted_chars
        |FROM cd GROUP BY source ORDER BY source""".stripMargin,
    "q353_language_id" ->
      """WITH tg AS (SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(length(text) - 1, 1)),
        |      i -> substr(text, CAST(i AS INT), 3))) AS tg
        |  FROM documents),
        |train AS (SELECT lang, tg, count(*) AS n FROM tg
        |  WHERE doc_id % 10 < 8 GROUP BY 1, 2),
        |profile AS (SELECT lang AS plang, tg FROM (SELECT lang, tg,
        |    row_number() OVER (PARTITION BY lang ORDER BY n DESC, tg ASC) AS r
        |  FROM train) WHERE r <= 50),
        |test AS (SELECT DISTINCT doc_id, lang, tg FROM tg WHERE doc_id % 10 >= 8),
        |scores AS (SELECT doc_id, lang, plang, count(*) AS score
        |  FROM test JOIN profile USING (tg) GROUP BY 1, 2, 3),
        |pred AS (SELECT doc_id, lang, plang AS predicted FROM (SELECT *,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, plang ASC) AS pr
        |  FROM scores) WHERE pr = 1)
        |SELECT lang, predicted, CAST(count(*) AS BIGINT) AS n_docs
        |FROM pred GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q300_chunk_dedup" ->
      s"""WITH c AS (SELECT doc_id, source, text, len(text) AS n_chars,
        |  list_filter(list_transform(range(1, greatest(len(text) - 6, 1)),
        |    i -> CASE WHEN $cdcCutSqlHash % 64 = 0
        |         THEN CAST(i AS BIGINT) END),
        |    x -> x IS NOT NULL) AS cuts
        |  FROM documents),
        |b AS (SELECT doc_id, source, text,
        |    list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
        |      [CAST(n_chars AS BIGINT)]) AS bounds
        |  FROM c),
        |ch0 AS (SELECT doc_id, source,
        |    list_transform(range(1, len(bounds)),
        |      i -> struct_pack(pos := i - 1,
        |        chunk := substr(text, CAST(bounds[i] + 1 AS INT),
        |          CAST(bounds[i + 1] - bounds[i] AS INT)))) AS lst
        |  FROM b),
        |ch AS (SELECT doc_id, source, u.pos AS pos, u.chunk AS chunk
        |  FROM (SELECT doc_id, source, unnest(lst) AS u FROM ch0)),
        |r AS (SELECT *, row_number() OVER (PARTITION BY md5(chunk)
        |      ORDER BY doc_id, pos) AS rn
        |  FROM ch)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(len(chunk)) AS BIGINT) AS chars_total,
        |  CAST(sum(CASE WHEN rn = 1 THEN len(chunk) ELSE 0 END) AS BIGINT)
        |    AS chars_kept,
        |  CAST(floor((sum(len(chunk))
        |      - sum(CASE WHEN rn = 1 THEN len(chunk) ELSE 0 END))
        |    * 1000000 / sum(len(chunk))) AS BIGINT) AS dedup_ppm
        |FROM r GROUP BY 1 ORDER BY source""".stripMargin,
    "q312_chunk_contamination" ->
      s"""WITH c AS (SELECT doc_id, source, text, len(text) AS n_chars,
        |  list_filter(list_transform(range(1, greatest(len(text) - 6, 1)),
        |    i -> CASE WHEN $cdcCutSqlHash % 64 = 0
        |         THEN CAST(i AS BIGINT) END),
        |    x -> x IS NOT NULL) AS cuts
        |  FROM documents),
        |b AS (SELECT doc_id, source, text,
        |    list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
        |      [CAST(n_chars AS BIGINT)]) AS bounds
        |  FROM c),
        |ch0 AS (SELECT doc_id, source,
        |    list_transform(range(1, len(bounds)),
        |      i -> substr(text, CAST(bounds[i] + 1 AS INT),
        |        CAST(bounds[i + 1] - bounds[i] AS INT))) AS lst
        |  FROM b),
        |ch AS (SELECT doc_id, source, md5(u) AS h,
        |    CAST(len(u) AS INT) AS len
        |  FROM (SELECT doc_id, source, unnest(lst) AS u FROM ch0)),
        |bench AS (SELECT DISTINCT h FROM ch WHERE doc_id % 37 = 0)
        |SELECT source,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_contaminated_docs,
        |  CAST(count(*) AS BIGINT) AS n_leaked_chunks,
        |  CAST(sum(len) AS BIGINT) AS leaked_chars
        |FROM ch JOIN bench USING (h)
        |WHERE doc_id % 37 <> 0
        |GROUP BY 1 ORDER BY source""".stripMargin,
    "q313_boilerplate" ->
      s"""WITH c AS (SELECT doc_id, source, text, len(text) AS n_chars,
        |  list_filter(list_transform(range(1, greatest(len(text) - 6, 1)),
        |    i -> CASE WHEN $cdcCutSqlHash % 64 = 0
        |         THEN CAST(i AS BIGINT) END),
        |    x -> x IS NOT NULL) AS cuts
        |  FROM documents),
        |b AS (SELECT doc_id, source, text,
        |    list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
        |      [CAST(n_chars AS BIGINT)]) AS bounds
        |  FROM c),
        |ch0 AS (SELECT doc_id, source,
        |    list_transform(range(1, len(bounds)),
        |      i -> substr(text, CAST(bounds[i] + 1 AS INT),
        |        CAST(bounds[i + 1] - bounds[i] AS INT))) AS lst
        |  FROM b),
        |ch AS (SELECT doc_id, source, md5(u) AS h,
        |    CAST(len(u) AS INT) AS len
        |  FROM (SELECT doc_id, source, unnest(lst) AS u FROM ch0)),
        |df5 AS (SELECT h FROM (SELECT DISTINCT h, doc_id FROM ch)
        |  GROUP BY h HAVING count(*) >= 5),
        |boiler AS (SELECT source,
        |    CAST(count(*) AS BIGINT) AS n_boiler_chunks,
        |    CAST(sum(len) AS BIGINT) AS boiler_chars
        |  FROM ch SEMI JOIN df5 USING (h) GROUP BY 1),
        |tot AS (SELECT source, CAST(sum(len) AS BIGINT) AS total_chars
        |  FROM ch GROUP BY 1)
        |SELECT b2.source, n_boiler_chunks, boiler_chars, total_chars,
        |  CAST(floor(boiler_chars * 1000000 / total_chars) AS BIGINT)
        |    AS boiler_ppm
        |FROM boiler b2 JOIN tot USING (source)
        |ORDER BY source""".stripMargin,
    "q304_cdc_cuts_sql" ->
      s"""WITH c AS (SELECT doc_id, text,
        |  list_filter(list_transform(range(1, greatest(len(text) - 6, 1)),
        |    i -> CASE WHEN $cdcCutSqlHash % 64 = 0
        |         THEN CAST(i AS BIGINT) END),
        |    x -> x IS NOT NULL) AS cuts
        |  FROM documents)
        |SELECT CAST(len(cuts) + 1 AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS total_chars
        |FROM c GROUP BY 1 ORDER BY n_chunks""".stripMargin,
    "q393_sliding_chunks" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len, w FROM w
         |  WHERE len(w) > 0),
         |st AS (SELECT doc_id, len, w,
         |    unnest(range(0, ((len - 1) // 48) * 48 + 1, 48)) AS start FROM s),
         |c AS (SELECT doc_id, start // 48 AS chunk_idx,
         |    least(64, len - start) AS n_tokens,
         |    w[CAST(start + 1 AS INT) : CAST(least(start + 64, len) AS INT)] AS ct
         |  FROM st)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(n_tokens AS BIGINT) AS n_tokens,
         |  md5(list_aggregate(ct, 'string_agg', ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q394_chunk_retrieval" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len, w FROM w
         |  WHERE len(w) > 0),
         |st AS (SELECT doc_id, len, w,
         |    unnest(range(0, ((len - 1) // 48) * 48 + 1, 48)) AS start FROM s),
         |c AS (SELECT doc_id, start // 48 AS chunk_idx,
         |    list_distinct(w[CAST(start + 1 AS INT) :
         |      CAST(least(start + 64, len) AS INT)]) AS cts
         |  FROM st),
         |ch AS (SELECT doc_id, chunk_idx, CAST(len(cts) AS BIGINT) AS cn, cts
         |  FROM c),
         |q AS (SELECT doc_id AS q_id, list_distinct(w) AS qts FROM w
         |  WHERE doc_id < 5),
         |qs AS (SELECT q_id, CAST(len(qts) AS BIGINT) AS qn FROM q),
         |inter AS (SELECT q_id, ch.doc_id, chunk_idx, cn,
         |    CAST(len(list_intersect(cts, qts)) AS BIGINT) AS i
         |  FROM ch, q WHERE ch.doc_id <> q_id),
         |scored AS (SELECT q_id, doc_id, chunk_idx,
         |    CAST(i AS DOUBLE) / (qn + cn - i) AS jac
         |  FROM inter JOIN qs USING (q_id) WHERE i > 0),
         |best AS (SELECT q_id, doc_id, chunk_idx, jac FROM (SELECT *,
         |    row_number() OVER (PARTITION BY q_id, doc_id
         |      ORDER BY jac DESC, chunk_idx) AS bc
         |  FROM scored) WHERE bc = 1)
         |SELECT q_id, doc_id, chunk_idx, round(jac, 6) AS jac,
         |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY jac DESC, doc_id)
         |    AS INT) AS rank
         |FROM best QUALIFY rank <= 10 ORDER BY q_id, rank""".stripMargin,
    // q392's oracle = the q303 recompute over the SURVIVING corpus (every
    // append minus the doc_id % 17 = 0 erasure) — a maintenance bug in
    // records or stats moves scores, ranks, or membership
    "q392_cdf_text_index" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents
         |  WHERE doc_id % 17 <> 0),
         |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
         |    CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf0,
         |    CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf1,
         |    CAST(len(list_filter(w, x -> x = 'stream')) AS BIGINT) AS tf2
         |  FROM w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len) AS BIGINT) AS sl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         |  FROM t),
         |sc AS (SELECT doc_id, tf0, tf1, tf2,
         |    round(ln((CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5)), 6)
         |      * CAST(tf0 * 22 * sl AS DOUBLE)
         |      / CAST(tf0 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |    + round(ln((CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)), 6)
         |      * CAST(tf1 * 22 * sl AS DOUBLE)
         |      / CAST(tf1 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |    + round(ln((CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)), 6)
         |      * CAST(tf2 * 22 * sl AS DOUBLE)
         |      / CAST(tf2 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |      AS score_raw
         |  FROM t, st)
         |SELECT doc_id, tf0, tf1, tf2, round(score_raw, 6) + 0.0 AS score
         |FROM sc ORDER BY score_raw DESC, doc_id LIMIT 20""".stripMargin,
    "q303_bm25" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
         |    CAST(len(list_filter(w, x -> x = 'merge')) AS BIGINT) AS tf0,
         |    CAST(len(list_filter(w, x -> x = 'window')) AS BIGINT) AS tf1,
         |    CAST(len(list_filter(w, x -> x = 'stream')) AS BIGINT) AS tf2
         |  FROM w),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(len) AS BIGINT) AS sl,
         |    CAST(sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
         |    CAST(sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
         |    CAST(sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
         |  FROM t),
         |sc AS (SELECT doc_id, tf0, tf1, tf2,
         |    round(ln((CAST(n AS DOUBLE) - df0 + 0.5) / (df0 + 0.5)), 6)
         |      * CAST(tf0 * 22 * sl AS DOUBLE)
         |      / CAST(tf0 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |    + round(ln((CAST(n AS DOUBLE) - df1 + 0.5) / (df1 + 0.5)), 6)
         |      * CAST(tf1 * 22 * sl AS DOUBLE)
         |      / CAST(tf1 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |    + round(ln((CAST(n AS DOUBLE) - df2 + 0.5) / (df2 + 0.5)), 6)
         |      * CAST(tf2 * 22 * sl AS DOUBLE)
         |      / CAST(tf2 * 10 * sl + 3 * sl + 9 * len * n AS DOUBLE)
         |      AS score_raw
         |  FROM t, st)
         |SELECT doc_id, tf0, tf1, tf2, round(score_raw, 6) + 0.0 AS score
         |FROM sc ORDER BY score_raw DESC, doc_id LIMIT 20""".stripMargin,
    "q285_cdc_chunks" ->
      s"""WITH c AS (SELECT doc_id, len(text) AS n_chars,
        |  list_filter(list_transform(range(1, greatest(len(text) - 6, 1)),
        |    i -> CASE WHEN $cdcCutSqlHash % 64 = 0
        |         THEN CAST(i AS BIGINT) END),
        |    x -> x IS NOT NULL) AS cuts
        |  FROM documents),
        |b AS (SELECT doc_id, n_chars,
        |    list_concat(list_concat([CAST(0 AS BIGINT)], cuts),
        |      [CAST(n_chars AS BIGINT)]) AS bounds
        |  FROM c),
        |l AS (SELECT doc_id,
        |    list_transform(range(1, len(bounds)),
        |      i -> bounds[i + 1] - bounds[i]) AS lens
        |  FROM b)
        |SELECT doc_id, CAST(len(lens) AS BIGINT) AS n_chunks,
        |  list_min(lens) AS min_len, list_max(lens) AS max_len,
        |  md5(array_to_string(lens, ',')) AS lens_md5
        |FROM l ORDER BY doc_id""".stripMargin,
    "q280_regex_battery" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
        |    AS n_numbers,
        |  CAST(len(regexp_extract_all(text, '[A-Z][a-z]+')) AS BIGINT)
        |    AS n_capwords,
        |  regexp_extract(text, '[0-9]+') AS first_number,
        |  md5(coalesce(
        |    array_to_string(regexp_extract_all(text, '[A-Z][a-z]+'), ','), ''))
        |    AS caps_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q247_vocab_coverage" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> len(x) > 0)) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
        |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank
        |  FROM c),
        |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tot FROM c),
        |k AS (SELECT unnest([10, 20, 50, 100]) AS k)
        |SELECT CAST(k AS INT) AS k, CAST(count(*) AS BIGINT) AS n_terms,
        |  CAST(sum(c) AS BIGINT) AS covered,
        |  round(CAST(sum(c) AS DOUBLE) / (SELECT tot FROM tot), 6)
        |    AS coverage
        |FROM r CROSS JOIN k WHERE rank <= k
        |GROUP BY k ORDER BY k""".stripMargin,
    "q228_zipf_slope" ->
      """WITH t AS (SELECT unnest(list_filter(string_split(lower(text), ' '),
        |    x -> len(x) > 0)) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
        |r AS (SELECT
        |    CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, tok)
        |      AS DOUBLE)) * 1000000.0) AS BIGINT) AS xm,
        |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0) AS BIGINT) AS ym
        |  FROM c),
        |a AS (SELECT count(*) AS n, sum(xm) AS sx, sum(ym) AS sy,
        |    sum(xm * ym) AS sxy, sum(xm * xm) AS sxx FROM r)
        |SELECT CAST(n AS BIGINT) AS n_terms,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
        |  round(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |    / CAST(n * sxx - sx * sx AS DOUBLE) / 1000000.0, 6) AS intercept
        |FROM a""".stripMargin,
    "q229_length_survival" ->
      """WITH th AS (SELECT unnest([50, 100, 200, 400, 800]) AS threshold),
        |tot AS (SELECT count(*) AS n_docs FROM documents)
        |SELECT CAST(threshold AS INT) AS threshold,
        |  CAST(sum(CASE WHEN n_chars >= threshold THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_surviving,
        |  CAST((SELECT n_docs FROM tot) AS BIGINT) AS n_docs,
        |  round(sum(CASE WHEN n_chars >= threshold THEN 1 ELSE 0 END)
        |    / CAST((SELECT n_docs FROM tot) AS DOUBLE), 6) AS frac
        |FROM documents CROSS JOIN th GROUP BY threshold
        |ORDER BY threshold""".stripMargin,
    "q213_hapax_rate" ->
      """WITH t AS (SELECT lang,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT lang, tok, count(*) AS c FROM t GROUP BY 1, 2)
        |SELECT lang, CAST(count(*) AS BIGINT) AS vocab_size,
        |  CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  round(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |    / CAST(count(*) AS DOUBLE), 6) AS hapax_rate
        |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "q198_nucleus_size" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY 1, 2),
        |w AS (SELECT doc_id, c,
        |    sum(c) OVER (PARTITION BY doc_id ORDER BY c DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(c) OVER (PARTITION BY doc_id) AS total,
        |    count(*) OVER (PARTITION BY doc_id) AS nt
        |  FROM c)
        |SELECT doc_id, CAST(max(nt) AS BIGINT) AS n_types,
        |  CAST(max(total) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN (cum - c) * 5 < total * 4 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS nucleus_types,
        |  round(sum(CASE WHEN (cum - c) * 5 < total * 4 THEN 1 ELSE 0 END)
        |    / CAST(max(nt) AS DOUBLE), 6) AS nucleus_ratio
        |FROM w GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q193_wordlen_hist" ->
      """WITH t AS (SELECT lang,
        |    unnest(list_filter(string_split(lower(text), ' '),
        |      x -> len(x) > 0)) AS tok
        |  FROM documents)
        |SELECT lang, CAST(least(len(tok), 15) AS INT) AS len_bucket,
        |  CAST(count(*) AS BIGINT) AS n_tokens
        |FROM t GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q177_explode_outer" ->
      """WITH t AS (SELECT lang,
        |    list_filter(string_split(lower(text), ' '),
        |      x -> len(x) >= 8) AS l
        |  FROM documents),
        |e AS (SELECT lang, unnest(CASE WHEN len(l) = 0
        |    THEN [CAST(NULL AS VARCHAR)] ELSE l END) AS tok FROM t)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(tok) AS BIGINT) AS n_tok_rows,
        |  CAST(sum(CASE WHEN tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_docs_empty,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_distinct
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,
    "q159_token_pmi" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_sort(list_distinct(
        |    list_filter(string_split(lower(text), ' '),
        |      x -> len(x) >= 4)))[1:20]) AS tok
        |  FROM documents),
        |nd AS (SELECT count(*) AS ndocs_raw FROM documents),
        |pairs AS (SELECT a.tok AS tok_a, b.tok AS tok_b,
        |    count(*) AS cab_raw
        |  FROM toks a JOIN toks b
        |    ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  GROUP BY 1, 2 HAVING count(*) >= 5),
        |df AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok)
        |SELECT tok_a, tok_b, CAST(cab_raw AS BIGINT) AS c_ab,
        |  CAST(da.c AS BIGINT) AS c_a, CAST(db.c AS BIGINT) AS c_b,
        |  round(log2(CAST(cab_raw * ndocs_raw AS DOUBLE) / (da.c * db.c)), 6)
        |    AS pmi
        |FROM pairs JOIN df da ON tok_a = da.tok
        |JOIN df db ON tok_b = db.tok, nd
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""".stripMargin,
    "q163_source_entropy" ->
      """WITH c AS (SELECT source, lang, count(*) AS cnt FROM documents
        |    GROUP BY 1, 2),
        |a AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS nd,
        |    CAST(count(*) AS BIGINT) AS nl,
        |    CAST(sum(cnt * CAST(round(log2(cnt) * 1000000.0) AS BIGINT))
        |      AS BIGINT) AS sclc_u
        |  FROM c GROUP BY source)
        |SELECT source, nd AS n_docs, nl AS n_langs,
        |  CAST(nd * CAST(round(log2(nd) * 1000000.0) AS BIGINT) - sclc_u
        |      AS DOUBLE)
        |    / CAST(nd * 1000000 AS DOUBLE) AS lang_entropy
        |FROM a ORDER BY source""".stripMargin,
    "q117_inverted_index" ->
      s"""WITH w AS (SELECT doc_id, unnest(list_distinct($wordsSql)) AS tok FROM documents)
         |SELECT tok, CAST(count(*) AS BIGINT) AS df,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  md5(list_aggregate(list_sort(list(doc_id)), 'string_agg', ',')) AS postings_md5
         |FROM w GROUP BY tok ORDER BY df DESC, tok LIMIT 200""".stripMargin,
    "q118_weighted_sample" ->
      """WITH s AS (SELECT * FROM documents
        |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 1000
        |        < least(n_chars, 800))
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sampled,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  md5(list_aggregate(list_sort(list(doc_id)), 'string_agg', ',')) AS ids_md5
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,
    "q98_count_min" ->
      s"""WITH toks AS (SELECT unnest($wordsSql) AS tok FROM documents),
         |exact AS (SELECT tok, count(*) AS exact FROM toks GROUP BY tok),
         |top AS (SELECT tok, exact FROM exact ORDER BY exact DESC, tok ASC LIMIT 20),
         |cells AS (
         |  SELECT k.k, ('0x' || substr(md5(k.k || ':' || tok), 1, 6))::BIGINT % 64 AS bucket,
         |    count(*) AS cell
         |  FROM toks, range(0, 4) k(k) GROUP BY 1, 2),
         |probes AS (
         |  SELECT tok, exact, k.k,
         |    ('0x' || substr(md5(k.k || ':' || tok), 1, 6))::BIGINT % 64 AS bucket
         |  FROM top, range(0, 4) k(k))
         |SELECT p.tok, p.exact, CAST(min(c.cell) AS BIGINT) AS est,
         |  min(c.cell) >= p.exact AS never_under
         |FROM probes p JOIN cells c ON p.k = c.k AND p.bucket = c.bucket
         |GROUP BY p.tok, p.exact
         |ORDER BY p.exact DESC, p.tok ASC""".stripMargin,
    "q102_bpe_pairs" ->
      s"""WITH d AS (SELECT $wordsSql AS t FROM documents),
         |p AS (SELECT t[i] || ' ' || t[i + 1] AS pair
         |  FROM d, lateral (SELECT unnest(range(1, len(t))) AS i)
         |  WHERE len(t) >= 2)
         |SELECT pair, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY pair
         |ORDER BY n DESC, pair ASC LIMIT 30""".stripMargin,
    "q147_array_setops" ->
      s"""WITH d AS (SELECT doc_id, list_distinct($wordsSql) AS u FROM documents),
         |x AS (SELECT doc_id, u,
         |    list_intersect(u, ['the','a','of','and','to','in','is']) AS st
         |  FROM d)
         |SELECT doc_id, CAST(len(u) AS BIGINT) AS n_distinct,
         |  CAST(len(st) AS BIGINT) AS n_stop,
         |  CAST(len(u) - len(st) AS BIGINT) AS n_nonstop,
         |  coalesce(list_aggregate(list_sort(st), 'string_agg', ','), '')
         |    AS stops_sorted
         |FROM x ORDER BY doc_id""".stripMargin,
    "q133_bigram_lm" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |toks AS (SELECT doc_id, CAST(i AS INT) AS pos, w[CAST(i AS INT)] AS tok
         |  FROM d, lateral (SELECT unnest(range(1, len(w) + 1)) AS i)),
         |bi AS (SELECT doc_id, tok, lead(tok) OVER (
         |    PARTITION BY doc_id ORDER BY pos) AS next FROM toks),
         |bif AS (SELECT * FROM bi WHERE next IS NOT NULL),
         |cu AS (SELECT tok, count(*) AS cu FROM bif GROUP BY tok),
         |c2 AS (SELECT tok, next, count(*) AS cb FROM bif GROUP BY tok, next),
         |v AS (SELECT count(DISTINCT tok) AS v FROM toks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |  round(avg(log2((cb + 1.0) / (cu + v))), 6) AS avg_log2p
         |FROM bif JOIN c2 USING (tok, next) JOIN cu USING (tok), v
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q131_oov_rate" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest($wordsSql) AS tok
         |    FROM documents),
         |c AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |t AS (SELECT sum(c) AS total FROM c),
         |vocab AS (SELECT tok FROM c, t WHERE c * 1000 >= total),
         |per AS (SELECT doc_id, lang, count(*) AS n_tok,
         |    count(*) FILTER (v.tok IS NULL) AS n_oov
         |  FROM toks LEFT JOIN vocab v ON toks.tok = v.tok
         |  GROUP BY doc_id, lang)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(sum(n_oov) AS BIGINT) AS total_oov,
         |  round(avg(n_oov * 1.0 / n_tok), 6) AS avg_oov_rate
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "q134_char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |    FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch
        |  WHERE len(ch) > 0 GROUP BY doc_id, ch)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |  CAST(count(*) AS BIGINT) AS n_distinct,
        |  round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 6) AS entropy
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q127_heavy_hitters" ->
      s"""WITH toks AS (SELECT lang, unnest($wordsSql) AS tok FROM documents),
         |c AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
         |r AS (SELECT lang, tok, c, row_number() OVER (
         |    PARTITION BY lang ORDER BY c DESC, tok) AS rnk FROM c)
         |SELECT lang, CAST(rnk AS BIGINT) AS rnk, tok, CAST(c AS BIGINT) AS c
         |FROM r WHERE rnk <= 3 ORDER BY lang, rnk""".stripMargin,
    "q104_rare_trigram" ->
      """WITH d AS (SELECT doc_id, lower(text) AS txt FROM documents
        |    WHERE len(lower(text)) >= 3),
        |tri AS (SELECT DISTINCT doc_id, substr(txt, CAST(i AS INT), 3) AS tri
        |  FROM d, lateral (SELECT unnest(range(1, len(txt) - 1)) AS i)),
        |dfq AS (SELECT tri, count(*) AS df FROM tri GROUP BY tri),
        |per AS (SELECT doc_id, count(*) AS n_tri,
        |    count(*) FILTER (df <= 2) AS n_rare
        |  FROM tri JOIN dfq USING (tri) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tri AS BIGINT) AS n_tri,
        |  CAST(n_rare AS BIGINT) AS n_rare,
        |  CAST(floor(n_rare * 1000000.0 / n_tri) AS BIGINT) AS rare_ppm
        |FROM per ORDER BY doc_id""".stripMargin,
    "q105_vocab_encode" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |toks AS (SELECT doc_id, CAST(i AS INT) AS pos, w[CAST(i AS INT)] AS tok
         |  FROM d, lateral (SELECT unnest(range(1, len(w) + 1)) AS i)),
         |vc AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
         |vocab AS (SELECT tok,
         |    CAST(row_number() OVER (ORDER BY c DESC, tok ASC) AS BIGINT) AS id
         |  FROM vc ORDER BY c DESC, tok ASC LIMIT 1000),
         |enc AS (SELECT doc_id, pos, coalesce(id, 0) AS id
         |  FROM toks LEFT JOIN vocab USING (tok) WHERE pos <= 30)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_enc,
         |  CAST(count(*) FILTER (id = 0) AS BIGINT) AS n_oov,
         |  md5(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
         |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q106_rank_drift" ->
      """WITH c AS (SELECT source, n_chars,
        |    rank() OVER (ORDER BY n_chars) AS rk,
        |    count(*) OVER (PARTITION BY n_chars) AS ties
        |  FROM documents),
        |r AS (SELECT source, rk + (ties - 1) / 2.0 AS ar FROM c)
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(ar) AS DOUBLE) AS r_sum,
        |  CAST(sum(ar) - count(*) * (count(*) + 1) / 2.0 AS DOUBLE) AS u_stat
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    "q50_token_stats" ->
      s"""WITH d AS (SELECT lang, $wordsSql AS w,
         |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(w)) AS BIGINT) AS total_tokens,
         |  CAST(sum(len(list_distinct(w))) AS BIGINT) AS total_distinct,
         |  CAST(sum(n_bpe) AS BIGINT) AS total_bpe,
         |  round(avg(len(w)), 6) AS avg_tokens
         |FROM d GROUP BY lang ORDER BY lang""".stripMargin,
    "q51_quality_score" ->
      s"""WITH d AS (SELECT doc_id, $wordsSql AS w,
         |  len(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS n_punct, len(text) AS n_chars
         |  FROM documents)
         |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok,
         |  round(CAST(len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE) / len(w), 6) AS stop_ratio,
         |  round(CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w), 6) AS avg_word_len,
         |  round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio
         |FROM d ORDER BY doc_id""".stripMargin,
    "q52_langid_confusion" ->
      s"""WITH d AS (SELECT lang, $wordsSql AS w FROM documents),
         |sc AS (SELECT lang,
         |  CAST(list_contains(w,'the') AS INT) + CAST(list_contains(w,'and') AS INT) + CAST(list_contains(w,'of') AS INT) + CAST(list_contains(w,'to') AS INT) + CAST(list_contains(w,'a') AS INT) AS s_en,
         |  CAST(list_contains(w,'el') AS INT) + CAST(list_contains(w,'la') AS INT) + CAST(list_contains(w,'de') AS INT) + CAST(list_contains(w,'los') AS INT) + CAST(list_contains(w,'y') AS INT) AS s_es,
         |  CAST(list_contains(w,'der') AS INT) + CAST(list_contains(w,'die') AS INT) + CAST(list_contains(w,'das') AS INT) + CAST(list_contains(w,'und') AS INT) + CAST(list_contains(w,'ist') AS INT) AS s_de,
         |  CAST(list_contains(w,'le') AS INT) + CAST(list_contains(w,'les') AS INT) + CAST(list_contains(w,'et') AS INT) + CAST(list_contains(w,'des') AS INT) + CAST(list_contains(w,'une') AS INT) AS s_fr
         |  FROM d)
         |SELECT lang, CASE
         |  WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
         |  WHEN s_es > 0 AND s_es >= s_de AND s_es >= s_fr THEN 'es'
         |  WHEN s_de > 0 AND s_de >= s_fr THEN 'de'
         |  WHEN s_fr > 0 THEN 'fr' ELSE 'und' END AS predicted, count(*) AS n
         |FROM sc GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q53_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(array_to_string(list_sort(list_distinct($wordsSql)), ' ')) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q54_tfidf_top_terms" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest($wordsSql) AS term FROM documents),
         |tf AS (SELECT doc_id, lang, term, count(*) AS tf FROM toks GROUP BY 1, 2, 3),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n_total FROM documents),
         |tfidf AS (SELECT lang, tf.term,
         |    tf * CAST(round(ln(CAST(n_total AS DOUBLE) / df) * 1000000.0)
         |      AS BIGINT) AS tfidf_micro
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |by_lang AS (SELECT lang, term,
         |    CAST(sum(tfidf_micro) AS DOUBLE)
         |      / CAST(count(*) * 1000000 AS DOUBLE) AS avg_tfidf
         |  FROM tfidf GROUP BY lang, term),
         |ranked AS (SELECT lang, term, avg_tfidf,
         |  row_number() OVER (PARTITION BY lang ORDER BY avg_tfidf DESC, term ASC) AS rk
         |  FROM by_lang)
         |SELECT lang, term, avg_tfidf, CAST(rk AS INT) AS rk FROM ranked
         |WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,
    "q55_rolling_fingerprint" ->
      """SELECT doc_id,
        |  CAST(coalesce(list_reduce(
        |    list_transform(range(1, len(text) + 1), i -> CAST(ascii(substring(text, i, 1)) AS BIGINT)),
        |    (a, b) -> (a * 31 + b) % 1000000007), 0) AS BIGINT) AS rhash
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q60_strip_accents" ->
      """SELECT p_partkey,
        |  strip_accents('Crème brûlée à Ångström №5 — ' || p_name) AS stripped
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q61_merge_columns" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN NULL WHEN doc_id % 3 = 1 THEN '' ELSE lang END AS a,
        |  CASE WHEN doc_id % 2 = 0 THEN source ELSE '' END AS b
        |  FROM documents)
        |SELECT doc_id, nullif(concat_ws(chr(10), nullif(a, ''), nullif(b, '')), '') AS merged
        |FROM d ORDER BY doc_id""".stripMargin,
    "q62_date_split" ->
      """WITH d AS (SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 4 = 0 THEN 'Du ' || strftime(o_orderdate, '%d/%m/%Y') || ' au ' || strftime(o_orderdate + INTERVAL 30 DAY, '%d/%m/%Y')
        |       WHEN o_orderkey % 4 = 1 THEN 'depuis le ' || strftime(o_orderdate, '%d/%m/%Y')
        |       WHEN o_orderkey % 4 = 2 THEN 'jusqu''au ' || strftime(o_orderdate, '%d/%m/%Y')
        |       ELSE 'sans date' END AS raw_text
        |  FROM orders),
        |e AS (SELECT o_orderkey, raw_text,
        |  regexp_extract_all(raw_text, '(\d{2}/\d{2}/\d{4})') AS hits FROM d)
        |SELECT o_orderkey, raw_text,
        |  CASE WHEN len(hits) = 2 THEN hits[1]
        |       WHEN len(hits) = 1 AND contains(lower(raw_text), 'depuis le') THEN hits[1] END AS date_debut,
        |  CASE WHEN len(hits) = 2 THEN hits[2]
        |       WHEN len(hits) = 1 AND NOT contains(lower(raw_text), 'depuis le')
        |            AND contains(lower(raw_text), 'jusqu') THEN hits[1] END AS date_fin
        |FROM e ORDER BY o_orderkey""".stripMargin
  )
}
