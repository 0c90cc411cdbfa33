package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Relational}
import graft.functions.{ParityFunctions => PF}

/** Deduplication surface: exact order-aware dedup (reference A1),
  * MinHash+LSH fuzzy dedup, SimHash signatures, rare-shingle n-gram
  * Jaccard. All hashing is md5-hex (portable), all scores integer-ratio
  * doubles (exact cross-engine).
  */
object DedupQueries {

  // q30: the reference's last-wins keyed dedup (A1) made deterministic:
  // explicit arrival order = event_id.
  def dedupLastWins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Relational.lastWinsByKey(
        Tables(s, dir).events.select($"event_id", $"user_id", $"event_type", $"value"),
        Seq("user_id", "event_type"), $"event_id")
      .select($"user_id", $"event_type", $"event_id", $"value")
      .orderBy($"user_id", $"event_type")
  }

  // q31: full MinHash-LSH pipeline (shingle → 8-hash signature → 4 bands →
  // candidate pairs → exact-Jaccard verify).
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.minHashDedup(Tables(s, dir).documents, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.2)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  // q32: 32-bit SimHash signature per document.
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Dedup.simHash(Tables(s, dir).documents, "doc_id", "text")
      .orderBy($"doc_id")
  }

  // q33: n-gram Jaccard near-dup detection blocked on *rare* shingles
  // (document frequency <= 20 — hub shingles would create quadratic pairs)
  // AND a minimum shared-shingle count. The co-occurrence count is a cheap
  // partial-aggregated groupBy; only pairs sharing >= 5 rare shingles reach
  // the expensive exact-Jaccard join (random pairs share 1-2, near-dups
  // share dozens — this is what keeps the op sub-quadratic at 100 TB).
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val perDoc = Dedup.docShingles(docs, "doc_id", "text", 3).localCheckpoint()
    val sh = perDoc.select($"doc_id", explode($"shingles").as("shingle"))
    // rarity must be RELATIVE to corpus size: a fixed df cap ages out as
    // the corpus grows (verified empirically — at 10× docs a df<=20 band
    // excludes every cluster shingle and finds nothing). Cap = max(20,
    // 0.4% of N), broadcast as a 1-row join.
    // df-cap: ABSOLUTE ceiling 64 over the relative floor. The cap is a
    // recall knob, not a throughput knob — a shingle shared by 64+
    // documents is no longer discriminative for near-dup pairing, and a
    // cap that grows with the corpus makes candidate volume Σ df²
    // quadratic BY CONSTRUCTION (measured: 16× at 10× docs on the Zipf
    // corpus with the old n·4/1000 cap; 4.4× with the ceiling). At the
    // sf0.01 gate scale the relative term is below both bounds, so the
    // oracle hash is unchanged.
    val cap = docs.agg(greatest(lit(20L),
      least(lit(64L), count(lit(1)) * 4 / 1000)).as("df_cap"))
    val rare = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap))
      .filter($"df" <= $"df_cap" && $"df" >= 2)
    val rareSh = sh.join(rare.select("shingle"), Seq("shingle"))
    val pairs = rareSh.select($"shingle", $"doc_id".as("id_a"))
      .join(rareSh.select($"shingle", $"doc_id".as("id_b")), Seq("shingle"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 5)
      .select("id_a", "id_b")
    Dedup.jaccardOnPairs(pairs, perDoc, "doc_id")
      .filter($"jaccard" >= 0.3)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  // q58: dedup clusters — connected components over the MinHash-verified
  // near-dup pairs; canonical doc per cluster = smallest id.
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.minHashDedup(Tables(s, dir).documents, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.2)
      .select($"id_a", $"id_b")
    Dedup.connectedComponents(pairs)
      .select($"id".as("doc_id"), $"component")
      .orderBy($"doc_id")
  }

  // q59: the dedup endpoint — drop every non-canonical near-duplicate,
  // keep one doc per cluster + all unclustered docs.
  def dedupKeepCanonical(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.2)
      .select($"id_a", $"id_b")
    Dedup.keepCanonical(docs, "doc_id", Dedup.connectedComponents(pairs))
      .select($"doc_id", $"lang", $"source")
      .orderBy($"doc_id")
  }

  // q107: span-level exact-substring duplication (the Lee et al. 2022
  // "Deduplicating Training Data" signal, at token-8-gram granularity):
  // a span duplicated ACROSS documents marks boilerplate/mirrored text
  // that whole-doc dedup can't see. Per doc: distinct spans, spans shared
  // with ≥2 docs, and the duplicated share in exact ppm. Scale shape: the
  // span df aggregate and the join back are BOTH keyed on the span, so
  // the join reuses the aggregate's hash partitioning (one shuffle of the
  // span set, no broadcast of an unbounded dup set); production would
  // hash spans to 128-bit before the shuffle — here they stay raw strings
  // so the oracle can mirror them.
  def dupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sp = Relational.spread(Tables(s, dir).documents, $"doc_id")
      .select($"doc_id", PF.tokens($"text").as("_toks"))
      .filter(size($"_toks") >= 8)
      .select($"doc_id", explode(PF.shinglesFromTokens($"_toks", 8)).as("s"))
    val df8 = sp.groupBy($"s").agg(count(lit(1)).as("c"))
    sp.join(df8, "s")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when($"c" >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
      .select($"doc_id", $"n_spans", $"n_dup_spans",
        floor($"n_dup_spans" * 1000000.0 / $"n_spans").cast("long").as("dup_ppm"))
      .orderBy($"doc_id")
  }

  // q120: the end-to-end training-data prep pipeline — the composition a
  // 100 TB corpus actually runs, in the order that makes each stage
  // cheapest for the next: near-dup dedup to canonical docs (MinHash-LSH
  // + connected components), a quality gate, deterministic stratified
  // sampling, and a hash-keyed train/val/test split, reported as per
  // (lang, split) counts plus an exact membership fingerprint. Every
  // stage is one of this library's operators; the oracle recomputes the
  // WHOLE pipeline independently (recursive-CTE components + the same
  // md5 arithmetic), so the hash pins the composed semantics, not each
  // stage in isolation. The split key is salted ("s:" prefix) so sample
  // and split buckets are independent — reusing the sample's hash would
  // funnel every sampled doc into 'train'.
  def trainingPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.TrainingData
    val docs = Tables(s, dir).documents
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.2)
      .select($"id_a", $"id_b")
    val canonical = Dedup.keepCanonical(docs, "doc_id", Dedup.connectedComponents(pairs))
    val gated = canonical.filter($"n_chars" >= 120)
    val sampled = TrainingData.stratifiedSample(gated, $"lang", $"doc_id",
      Seq("en" -> 50, "fr" -> 80, "de" -> 100, "es" -> 100),
      denominator = 100, defaultNumerator = 30)
    TrainingData.assignSplit(sampled, concat(lit("s:"), $"doc_id"), 80, 10)
      .groupBy($"lang", $"split")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("n_chars"),
        PF.idsFingerprint($"doc_id").as("ids_md5"))
      .orderBy($"lang", $"split")
  }

  // q239: near-duplicate cluster-size histogram — the dedup QA report:
  // how big do MinHash components get (size 2, 3-4, 5-8, 9-16, 17+) and
  // how many docs sit in each band, plus the singleton row (bucket 1).
  // Buckets are an integer CASE ladder — no floating-point boundary.
  // A heavy tail here flags boilerplate/mirror content BEFORE a
  // transitive-closure canonical pass eats a whole source.
  def clusterSizeHist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text",
        shingleN = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.2)
      .select($"id_a", $"id_b")
    val sizes = Dedup.connectedComponents(pairs)
      .groupBy($"component").agg(count(lit(1)).as("sz"))
    val banded = sizes.groupBy(
        when($"sz" <= 2, 2).when($"sz" <= 4, 4).when($"sz" <= 8, 8)
          .when($"sz" <= 16, 16).otherwise(0).cast("int").as("size_bucket"))
      .agg(count(lit(1)).as("n_clusters"), sum($"sz").as("n_docs_in"))
    val totals = docs.agg(count(lit(1)).as("nd"))
      .crossJoin(sizes.agg(coalesce(sum($"sz"), lit(0L)).as("nc")))
    val singletons = totals.select(lit(1).cast("int").as("size_bucket"),
      ($"nd" - $"nc").as("n_clusters"), ($"nd" - $"nc").as("n_docs_in"))
    banded.unionAll(singletons).orderBy($"size_bucket")
  }

  // q240: exact-dedup savings report — per source: docs/chars kept vs
  // dropped under content-hash dedup (canonical = min doc_id per md5).
  // The canonical choice is one (hash)-keyed window min — the at-scale
  // shape is a single shuffle of (hash, id, chars), never a self-join.
  def dedupSavings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
      .select($"doc_id", $"source", $"n_chars", md5($"text").as("h"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"h")
    docs.withColumn("keep_id", min($"doc_id").over(w))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"),
        sum(when($"doc_id" === $"keep_id", $"n_chars").otherwise(0))
          .cast("long").as("kept_chars"),
        sum(when($"doc_id" =!= $"keep_id", $"n_chars").otherwise(0))
          .cast("long").as("dropped_chars"))
      .withColumn("savings",
        round($"dropped_chars".cast("double") / $"total_chars", 6))
      .orderBy($"source")
  }

  // q288: golden-record entity resolution (MDM survivorship) — the
  // end-to-end composition a master-data pipeline runs: block → fuzzy
  // match → transitive closure → survivorship rules. Scale posture:
  // exact-duplicate names collapse to ONE representative per (block,
  // name) BEFORE pairing (the q68 trick), so the levenshtein pair space
  // is |distinct names|² within a block, never |parts|² — a 100× corpus
  // with the same name vocabulary generates the same pair count. Cluster
  // id = min partkey in the cluster (CC convention); survivorship picks
  // deterministic winners (lexicographic-min name, price envelope,
  // brand-variant count; price min/max are SELECTIONS of stored doubles,
  // bit-identical cross-engine — no sum, no rounding). Oracle closes the
  // same pairs with a RECURSIVE CTE.
  def goldenRecord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = Tables(s, dir).part
      .select($"p_partkey", $"p_name", $"p_brand", $"p_retailprice")
      .withColumn("blk", split($"p_name", " ").getItem(0))
    val names = p.groupBy($"blk", $"p_name").agg(min($"p_partkey").as("rep"))
    val a = names.select($"blk", $"p_name".as("name_a"), $"rep".as("id_a"))
    val b = names.select($"blk", $"p_name".as("name_b"), $"rep".as("id_b"))
    val pairs = a.join(b, Seq("blk"))
      .filter($"id_a" < $"id_b" && levenshtein($"name_a", $"name_b") <= 1)
      .select($"id_a", $"id_b")
    val comp = Dedup.connectedComponents(pairs)
    p.join(names.select($"p_name", $"rep"), Seq("p_name"))
      .join(comp, $"rep" === comp("id"), "left")
      .select($"p_partkey", $"p_name", $"p_brand", $"p_retailprice",
        coalesce($"component", $"rep").as("cluster"))
      .groupBy($"cluster")
      .agg(count(lit(1)).as("n_members"),
        min($"p_name").as("golden_name"),
        countDistinct($"p_brand").as("n_brands"),
        min($"p_retailprice").as("price_min"),
        max($"p_retailprice").as("price_max"))
      .orderBy($"cluster")
  }

  // q298: sketch-accuracy contract for MinHash — the q189 pattern applied
  // to similarity estimation: over every LSH candidate pair, the 8-hash
  // signature estimate (matching positions / 8) is compared against the
  // EXACT shingle Jaccard, and the face pins the error distribution
  // (bucketed |est − exact|). Both quantities are ratios of exact
  // integers, so the buckets are bit-deterministic; what the face
  // certifies is that the sketch the dedup path trusts (q31/q58) stays
  // inside its analytic error envelope — the sketch-calibration audit a
  // 100 TB dedup run does on a sample before committing to thresholds.
  def minhashCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // sig (per-document shingles + signature) feeds bands, the
    // exact-Jaccard join-back and BOTH signature sides — localCheckpoint
    // pins it to one computation. Signatures are |docs|-sized →
    // broadcast to the candidate pairs.
    val sig = signedDocs(Tables(s, dir).documents).localCheckpoint()
    val cand = Dedup.lshCandidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id")
    val exact = Dedup.jaccardOnPairs(cand, sig, "doc_id")
    val sa = sig.select(($"doc_id".as("id_a")) +:
      (0 until 8).map(i => col(s"m$i").as(s"a$i")): _*)
    val sb = sig.select(($"doc_id".as("id_b")) +:
      (0 until 8).map(i => col(s"m$i").as(s"b$i")): _*)
    val est = (0 until 8).map(i =>
      when(col(s"a$i") === col(s"b$i"), 1).otherwise(0)).reduce(_ + _)
    exact.join(broadcast(sa), Seq("id_a")).join(broadcast(sb), Seq("id_b"))
      .select(floor(abs(est.cast("double") / 8 - $"jaccard") * 10)
        .cast("long").as("err_decile"))
      .groupBy($"err_decile")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"err_decile")
  }

  // q302: sparse cosine similarity over shingle term-frequency vectors —
  // the bag-of-ngrams similarity that complements Jaccard (q33 scores
  // set overlap; cosine weighs REPEATED shingles). Candidate pairs come
  // from q33's corpus-relative rare-shingle blocking (pair space bounded
  // by rare-shingle co-occurrence, never |docs|²); the dot product and
  // both norms are sums of products of exact integer term frequencies,
  // so cos = dot/(√na·√nb) is identical-input IEEE arithmetic on both
  // engines — the sketch-free, float-safe spelling of TF cosine.
  def sparseCosine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // exact-duplicate collapse FIRST (the q68/q288 posture): byte-equal
    // documents share one representative (min doc_id per content hash),
    // so a corpus with heavy verbatim duplication pairs its UNIQUE texts,
    // never each clone against each clone — on the 10× probe corpus (10
    // verbatim copies of everything) this is the difference between 250k
    // degenerate cosine-1.0 pairs (76 s) and the true pair space.
    val docs = Tables(s, dir).documents
      .withColumn("_h", md5($"text".cast("binary")))
      .withColumn("_rep", min($"doc_id").over(Window.partitionBy($"_h")))
      .filter($"doc_id" === $"_rep")
      .select($"doc_id", $"text")
    // tf vectors keep DUPLICATE shingles (no array_distinct): explode
    // non-distinct shingles and count
    val tf = Relational.spread(docs, $"doc_id")
      .select($"doc_id", explode(PF.shingleSeq(PF.tokens($"text"), 3)).as("shingle"))
      .groupBy($"doc_id", $"shingle").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    // df-cap: ABSOLUTE ceiling 64 over the relative floor. The cap is a
    // recall knob, not a throughput knob — a shingle shared by 64+
    // documents is no longer discriminative for near-dup pairing, and a
    // cap that grows with the corpus makes candidate volume Σ df²
    // quadratic BY CONSTRUCTION (measured: 16× at 10× docs on the Zipf
    // corpus with the old n·4/1000 cap; 4.4× with the ceiling). At the
    // sf0.01 gate scale the relative term is below both bounds, so the
    // oracle hash is unchanged.
    val cap = docs.agg(greatest(lit(20L),
      least(lit(64L), count(lit(1)) * 4 / 1000)).as("df_cap"))
    val rare = tf.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(cap))
      .filter($"df" <= $"df_cap" && $"df" >= 2)
    val rareSh = tf.join(rare.select("shingle"), Seq("shingle"))
    val pairs = rareSh.select($"shingle", $"doc_id".as("id_a"))
      .join(rareSh.select($"shingle", $"doc_id".as("id_b")), Seq("shingle"))
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("shared"))
      .filter($"shared" >= 5)
      .select("id_a", "id_b")
    val norms = tf.groupBy($"doc_id").agg(sum($"tf" * $"tf").as("n2"))
    val dot = pairs
      .join(tf.select($"doc_id".as("id_a"), $"shingle", $"tf".as("tf_a")), Seq("id_a"))
      .join(tf.select($"doc_id".as("id_b"), $"shingle".as("sh_b"), $"tf".as("tf_b")), Seq("id_b"))
      .filter($"shingle" === $"sh_b")
      .groupBy($"id_a", $"id_b").agg(sum($"tf_a" * $"tf_b").as("dot"))
    dot
      .join(norms.select($"doc_id".as("id_a"), $"n2".as("na")), Seq("id_a"))
      .join(norms.select($"doc_id".as("id_b"), $"n2".as("nb")), Seq("id_b"))
      .select($"id_a", $"id_b",
        round($"dot".cast("double") /
          (sqrt($"na".cast("double")) * sqrt($"nb".cast("double"))), 6).as("cosine"))
      .filter($"cosine" >= 0.5)
      .orderBy($"id_a", $"id_b")
  }

  /** The dedup index of q298/q311/q336/q354: one row per document with
    * shingles, `sz` and the 8-hash signature, as in `Dedup.minHashDedup`. */
  private def signedDocs(docs: DataFrame): DataFrame =
    Dedup.withSignature(Dedup.docShingles(docs, "doc_id", "text", 3), 8)

  // q311: incremental dedup — the daily-delta shape a 100 TB corpus
  // actually runs: yesterday's corpus already has signatures, bands and
  // verified pairs (the "index"); today's 20% delta generates signatures
  // for ITSELF only and candidate pairs only where a delta band meets
  // the index — the historical corpus never re-pairs against itself.
  // Completeness is structural (every band-sharing pair either lies in
  // the base or touches the delta), and the face PROVES it: the
  // incremental pair set feeds the same exact-Jaccard verify and the
  // output is hash-identical to q31's full recompute (the oracle). The
  // recompute avoided grows with history: at 500× history vs delta, the
  // full band self-join is ~250 000× the delta-vs-index join.
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val sig = signedDocs(docs).localCheckpoint()
    val bands = Dedup.lshBands(sig, "doc_id", 8, 2).localCheckpoint()
    val deltaIds = docs
      .filter(conv(substring(md5($"doc_id".cast("string").cast("binary")), 1, 6),
        16, 10).cast("long") % 5 === 0)
      .select($"doc_id")
    val baseBands = bands.join(deltaIds, Seq("doc_id"), "left_anti")
    val deltaBands = bands.join(deltaIds, Seq("doc_id"))
    val basePairs = Dedup.lshCandidatePairs(baseBands, "doc_id")
    val deltaPairs = deltaBands
      .select($"band_idx", $"band_hash", $"doc_id".as("da"))
      .join(bands.select($"band_idx", $"band_hash", $"doc_id".as("db")),
        Seq("band_idx", "band_hash"))
      .filter($"da" =!= $"db")
      .select(least($"da", $"db").as("id_a"), greatest($"da", $"db").as("id_b"))
      .distinct()
    val incr = basePairs.unionByName(deltaPairs).distinct()
    Dedup.jaccardOnPairs(incr, sig, "doc_id")
      .filter($"jaccard" >= 0.2)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  // q336: incremental dedup index with REMOVALS — the other half of
  // q311's maintenance story (adds): GDPR erasures, retractions, and
  // quality purges leave the corpus daily, and re-shingling +
  // re-signing 100 TB to honor them is the recompute this exists to
  // avoid. Maintenance is ONE anti join per index artifact (bands, the
  // per-document shingle arrays — all O(|index|), nothing touches raw
  // text), and the checked identity is the strong one: pairs from the
  // maintained index ≡ a from-scratch rebuild over the reduced corpus,
  // hash-exact — tombstoned docs can neither surface in pairs nor affect
  // any surviving pair's Jaccard.
  def incrementalDedupDelete(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    // the PERSISTED index artifacts (in production: q310-style parquet)
    val sig = signedDocs(docs).localCheckpoint()
    val bands = Dedup.lshBands(sig, "doc_id", 8, 2).localCheckpoint()
    val tomb = docs.filter($"doc_id" % 17 === 0).select($"doc_id")
    val updated = bands.join(tomb, Seq("doc_id"), "left_anti")
    val pairs = Dedup.lshCandidatePairs(updated, "doc_id")
    Dedup.jaccardOnPairs(pairs, sig.join(tomb, Seq("doc_id"), "left_anti"), "doc_id")
      .filter($"jaccard" >= 0.2)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  // q354: DEDUP INDEX MAINTAINED FROM THE CHANGE FEED — the integration
  // that turns q311 (incremental adds) + q336 (removals) + q332 (row-
  // level CDF) into one pipeline: the corpus lives in a versioned
  // manifest table, and the dedup index (shingles, signatures, bands,
  // verified pairs) is maintained by CONSUMING ITS CHANGE FEED — insert
  // events sign themselves and pair only against the live index, delete
  // events become tombstone anti joins — so the index tracks the table
  // with O(delta + |index|) work per version while raw history text is
  // never re-read. This is how a 100 TB training corpus actually keeps
  // its dedup state: the lakehouse table is the source of truth, the
  // index is a downstream materialization of its CDF, and GDPR erasures
  // flow through the SAME feed as ingest. The checked identity is the
  // strong one: pairs from the feed-maintained index ≡ a from-scratch
  // rebuild over the final snapshot (the oracle recomputes the whole
  // MinHash pipeline on the surviving corpus), hash-exact.
  def cdcDedupIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q354", dir)
    val docs = Tables(s, dir).documents
    ManifestTable.commit(docs.filter($"doc_id" % 10 < 8), out, append = false)
    // index artifacts built once, at v1 (in production: q310-style parquet)
    val v1 = ManifestTable.read(s, out, 1)
    val sigB = signedDocs(v1).localCheckpoint()
    val bandsB = Dedup.lshBands(sigB, "doc_id", 8, 2).localCheckpoint()
    val pairsB = Dedup.lshCandidatePairs(bandsB, "doc_id").localCheckpoint()
    // the table moves on: v2 appends a delta, v3 erases keys (GDPR shape)
    ManifestTable.commit(docs.filter($"doc_id" % 10 === 8), out, append = true)
    ManifestTable.delete(
      docs.filter($"doc_id" % 10 <= 8 && $"doc_id" % 17 === 0)
        .select($"doc_id"), out, "doc_id")
    // ONE feed read drives both maintenance paths
    val feed = ManifestTable.changeFeed(s, out, 1).localCheckpoint()
    val ins = feed.filter($"_change_type" === "insert")
      .select($"doc_id", $"text")
    val tomb = feed.filter($"_change_type" === "delete")
      .select($"doc_id").distinct().localCheckpoint()
    require(ins.count() > 0 && tomb.count() > 0,
      "q354: the feed must carry both insert and delete events")
    // adds: delta-only signatures; removals: anti joins per artifact
    val sigD = signedDocs(ins)
    val bandsD = Dedup.lshBands(sigD, "doc_id", 8, 2)
    val liveBands = bandsB.unionByName(bandsD)
      .join(tomb, Seq("doc_id"), "left_anti")
    val deltaPairs = bandsD.join(tomb, Seq("doc_id"), "left_anti")
      .select($"band_idx", $"band_hash", $"doc_id".as("da"))
      .join(liveBands.select($"band_idx", $"band_hash", $"doc_id".as("db")),
        Seq("band_idx", "band_hash"))
      .filter($"da" =!= $"db")
      .select(least($"da", $"db").as("id_a"), greatest($"da", $"db").as("id_b"))
      .distinct()
    val livePairsB = pairsB
      .join(tomb.select($"doc_id".as("id_a")), Seq("id_a"), "left_anti")
      .join(tomb.select($"doc_id".as("id_b")), Seq("id_b"), "left_anti")
    val pairs = livePairsB.unionByName(deltaPairs).distinct()
    val live = sigB.unionByName(sigD).join(tomb, Seq("doc_id"), "left_anti")
    Dedup.jaccardOnPairs(pairs, live, "doc_id")
      .filter($"jaccard" >= 0.2)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("jaccard"))
      .orderBy($"id_a", $"id_b")
  }

  // q322: prefix-filtered exact similarity join (AllPairs/PPJoin
  // family) — the canonical EXACT-threshold algorithm next to the
  // probabilistic paths (MinHash q31, SimHash q32, rare-shingle
  // blocking q302): order each doc's distinct tokens rarest-first
  // (global df asc, token asc), index only the first
  // |x| − ⌈t·|x|⌉ + 1 tokens, and join on prefix tokens. The pruning
  // is COMPLETE by pigeonhole: two sets with Jaccard ≥ t = 3/5 overlap
  // in > (1−t)·|x| tokens, so ignoring any (1−t)-fraction prefix of
  // one side cannot hide a qualifying pair — every J ≥ t pair shares a
  // prefix token, no false dismissals, unlike LSH. Verification is an
  // exact integer Jaccard on the full sorted token arrays, thresholded
  // as 5·∩ ≥ 3·∪ (rational inequality — no float enters the decision).
  // At 100 TB: the join shuffles on prefix TOKENS (rarest tokens →
  // smallest postings), candidate volume is bounded by rare-token
  // co-occurrence, and the df table that defines "rare" is vocabulary-
  // sized, broadcast once. CAVEAT measured on this corpus: the
  // synthetic documents share most of a tiny vocabulary (57% of ALL
  // pairs have J ≥ 0.6 at sf0.01 — real corpora post-dedup are
  // orders sparser), so the qualifying set itself is Θ(n²) and no
  // exact algorithm can beat its own output size; the face therefore
  // runs on a deterministic 1/10 id slice (the q278 bounding move)
  // while the algorithm stays full-fidelity.
  def prefixFilterJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = Tables(s, dir).documents
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", explode(array_distinct(PF.tokens($"text"))).as("tok"))
    val docsets = toks.groupBy($"doc_id")
      .agg(sort_array(collect_set($"tok")).as("ts"), count(lit(1)).as("sz"))
      .localCheckpoint()
    // r9: candidate generation now carries PPJoin's size + positional
    // prunes (complete — see Dedup.prefixCandidates); on this dup-dense
    // corpus they trim little, on sparse corpora they cut verification
    // well below plain AllPairs (spec-pinned on a sparse fixture)
    val cand = graft.operators.Dedup.prefixCandidates(
      toks, "doc_id", "tok", positional = true)
    cand
      .join(docsets.select($"doc_id".as("id_a"), $"ts".as("ta"), $"sz".as("sza")), Seq("id_a"))
      .join(docsets.select($"doc_id".as("id_b"), $"ts".as("tb"), $"sz".as("szb")), Seq("id_b"))
      .select($"id_a", $"id_b",
        size(array_intersect($"ta", $"tb")).cast("long").as("inter"),
        ($"sza" + $"szb" - size(array_intersect($"ta", $"tb"))).as("uni"))
      .filter($"inter" * 5 >= $"uni" * 3)
      // this synthetic corpus is dup-dense (~71k qualifying pairs at
      // sf0.01) — emit the bounded per-bucket summary, with exact id
      // sums pinning pair MEMBERSHIP (any wrong/missing pair moves a
      // bucket's count and both checksums)
      .select(expr("inter * 20 div uni").as("jac_bucket"),
        $"id_a", $"id_b")
      .groupBy($"jac_bucket")
      .agg(count(lit(1)).as("n_pairs"),
        sum($"id_a").as("sum_a"), sum($"id_b").as("sum_b"))
      .orderBy($"jac_bucket")
  }

  // q398: MAXIMAL DUPLICATED-SPAN EXTRACTION — q107 measures span-level
  // duplication (a ppm score per doc); this face LOCALIZES it into the
  // artifact exact substring dedup actually ships: the maximal merged
  // token spans shared across documents (Lee et al. 2022's suffix-array
  // output, re-expressed as a distributed fingerprint join + island
  // merge). Seeds are 8-token windows fingerprinted md5; a seed is
  // duplicated iff its fingerprint occurs in ≥ 2 DISTINCT docs (cross-doc
  // — within-doc self-repeats are q207/q51's business); per doc,
  // consecutive duplicated seed starts merge into maximal spans by the
  // gaps-and-islands anchor (p − row_number), so the emitted rows are the
  // CUT LIST: (start token, span length, content md5) per span. Every
  // value is exact/integer/md5 — cross-engine bit-identical. Scale shape:
  // seed fingerprinting is map-side over Σ tokens; "duplicated" is ONE
  // fingerprint-keyed aggregate (count distinct doc per h — the same
  // shuffle volume a suffix-array build would sort, this is the known
  // price of EXACT substring dedup); the semi join back reuses the
  // aggregate's hash partitioning; island merge + final slice are
  // doc-keyed over duplicated seeds only (≪ corpus). No all-pairs
  // anywhere; at 100 TB production would fingerprint to 128-bit ints
  // instead of md5 strings (same plan, narrower shuffle rows).
  private val SpanK = 8
  def repeatedSpans(s: SparkSession, dir: String,
                    docs0: DataFrame = null): DataFrame = {
    import s.implicits._
    val docs = Option(docs0).getOrElse(
      Relational.spread(Tables(s, dir).documents, $"doc_id"))
    val toks = docs
      .select($"doc_id", PF.tokens($"text").as("w"))
      .withColumn("len", size($"w").cast("long"))
      .filter($"len" >= SpanK)
    val seeds = toks
      .select($"doc_id", $"w", explode(sequence(lit(0L), $"len" - SpanK)).as("p"))
      .select($"doc_id", $"p",
        md5(concat_ws(" ", slice($"w", ($"p" + 1L).cast("int"), lit(SpanK)))).as("h"))
    val dup = seeds.groupBy($"h")
      .agg(countDistinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"h")
    val hits = seeds.join(dup, Seq("h"), "left_semi")
    val isl = hits.withColumn("g",
      $"p" - row_number().over(Window.partitionBy($"doc_id").orderBy($"p")))
    val sp = isl.groupBy($"doc_id", $"g")
      .agg(min($"p").as("start_tok"), (max($"p") + SpanK).as("endx"),
        count(lit(1)).as("n_seeds"))
    sp.join(toks.select($"doc_id", $"w"), Seq("doc_id"))
      .select($"doc_id", $"start_tok",
        ($"endx" - $"start_tok").as("span_tokens"), $"n_seeds",
        md5(concat_ws(" ", slice($"w", ($"start_tok" + 1L).cast("int"),
          ($"endx" - $"start_tok").cast("int")))).as("span_md5"))
      .withColumn("span_idx", row_number()
        .over(Window.partitionBy($"doc_id").orderBy($"start_tok")).cast("long"))
      .select($"doc_id", $"span_idx", $"start_tok", $"span_tokens",
        $"n_seeds", $"span_md5")
      .orderBy($"doc_id", $"start_tok")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q398_repeated_spans" -> ((s: SparkSession, dir: String) => repeatedSpans(s, dir)),
    "q354_cdc_dedup_index" -> cdcDedupIndex _,
    "q336_incremental_dedup_del" -> incrementalDedupDelete _,
    "q322_prefix_filter_join" -> prefixFilterJoin _,
    "q311_incremental_dedup" -> incrementalDedup _,
    "q302_sparse_cosine" -> sparseCosine _,
    "q288_golden_record" -> goldenRecord _,
    "q298_minhash_calibration" -> minhashCalibration _,
    "q239_cluster_sizes" -> clusterSizeHist _,
    "q240_dedup_savings" -> dedupSavings _,
    "q120_training_pipeline" -> trainingPipeline _,
    "q58_dedup_clusters" -> dedupClusters _,
    "q59_dedup_keep_canonical" -> dedupKeepCanonical _,
    "q107_dup_spans" -> dupSpans _,
    "q30_dedup_lastwins" -> dedupLastWins _,
    "q31_minhash_lsh" -> minhashLsh _,
    "q32_simhash_signatures" -> simhashSignatures _,
    "q33_ngram_jaccard" -> ngramJaccard _
  )

  private val wordsSql =
    "list_filter(string_split(lower(text), ' '), x -> len(x) > 0)"
  private val shinglesCte =
    s"""w AS (SELECT doc_id, $wordsSql AS w FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
       |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM w)""".stripMargin

  private lazy val componentsCte: String =
    s"""WITH RECURSIVE $shinglesCte,
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7,
         |  count(*) AS sz
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM cand p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b),
         |pairs AS (SELECT id_a, id_b FROM common
         |  JOIN sig za ON za.doc_id = id_a
         |  JOIN sig zb ON zb.doc_id = id_b
         |  WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2),
         |bi AS (SELECT id_a AS a, id_b AS b FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs),
         |rc(src, dst) AS (
         |  SELECT a, b FROM bi
         |  UNION
         |  SELECT rc.src, bi.b FROM rc JOIN bi ON rc.dst = bi.a),
         |comp AS (SELECT src AS doc_id, least(src, min(dst)) AS component
         |  FROM rc GROUP BY src)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q398_repeated_spans" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |s AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len, w FROM w
         |  WHERE len(w) >= 8),
         |seeds AS (SELECT doc_id, w, unnest(range(0, len - 8 + 1)) AS p FROM s),
         |f AS (SELECT doc_id, p,
         |    md5(list_aggregate(w[CAST(p + 1 AS INT) : CAST(p + 8 AS INT)],
         |      'string_agg', ' ')) AS h
         |  FROM seeds),
         |dup AS (SELECT h FROM f GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |d AS (SELECT doc_id, p FROM f JOIN dup USING (h)),
         |isl AS (SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g
         |  FROM d),
         |sp AS (SELECT doc_id, min(p) AS start_tok, max(p) + 8 AS endx,
         |    count(*) AS n_seeds
         |  FROM isl GROUP BY doc_id, g),
         |j AS (SELECT sp.doc_id, start_tok, endx - start_tok AS span_tokens,
         |    n_seeds,
         |    md5(list_aggregate(
         |      s.w[CAST(start_tok + 1 AS INT) : CAST(endx AS INT)],
         |      'string_agg', ' ')) AS span_md5
         |  FROM sp JOIN s ON s.doc_id = sp.doc_id)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY start_tok)
         |    AS BIGINT) AS span_idx,
         |  CAST(start_tok AS BIGINT) AS start_tok,
         |  CAST(span_tokens AS BIGINT) AS span_tokens,
         |  CAST(n_seeds AS BIGINT) AS n_seeds, span_md5
         |FROM j ORDER BY doc_id, start_tok""".stripMargin,
    "q322_prefix_filter_join" ->
      """WITH tk AS (SELECT doc_id, unnest(list_distinct(
        |    list_filter(string_split(lower(text), ' '), x -> len(x) > 0))) AS tok
        |  FROM documents WHERE doc_id % 10 = 0),
        |dfs AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tk GROUP BY 1),
        |rk AS (SELECT doc_id, tok,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY df ASC, tok ASC) AS rnk,
        |    count(*) OVER (PARTITION BY doc_id) AS sz
        |  FROM tk JOIN dfs USING (tok)),
        |pf AS (SELECT tok, doc_id FROM rk
        |  WHERE rnk <= sz - (sz * 3 + 4) // 5 + 1),
        |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM pf a JOIN pf b ON a.tok = b.tok AND a.doc_id < b.doc_id),
        |ds AS (SELECT doc_id, list_sort(list(tok)) AS ts,
        |    CAST(count(*) AS BIGINT) AS sz FROM tk GROUP BY 1),
        |j AS (SELECT id_a, id_b,
        |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS inter,
        |    a.sz + b.sz - CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS uni
        |  FROM cand JOIN ds a ON a.doc_id = cand.id_a
        |  JOIN ds b ON b.doc_id = cand.id_b)
        |SELECT inter * 20 // uni AS jac_bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs,
        |  CAST(sum(id_a) AS BIGINT) AS sum_a,
        |  CAST(sum(id_b) AS BIGINT) AS sum_b
        |FROM j WHERE inter * 5 >= uni * 3
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q288_golden_record" ->
      """WITH RECURSIVE p AS (SELECT p_partkey, p_name, p_brand,
        |    p_retailprice, string_split(p_name, ' ')[1] AS blk FROM part),
        |names AS (SELECT blk, p_name, min(p_partkey) AS rep
        |  FROM p GROUP BY 1, 2),
        |pr AS (SELECT a.rep AS id_a, b.rep AS id_b
        |  FROM names a JOIN names b ON a.blk = b.blk AND a.rep < b.rep
        |  WHERE levenshtein(a.p_name, b.p_name) <= 1),
        |bi AS (SELECT id_a AS a, id_b AS b FROM pr
        |  UNION ALL SELECT id_b, id_a FROM pr),
        |rc(src, dst) AS (SELECT a, b FROM bi
        |  UNION SELECT rc.src, bi.b FROM rc JOIN bi ON rc.dst = bi.a),
        |comp AS (SELECT src AS id, least(src, min(dst)) AS component
        |  FROM rc GROUP BY src),
        |cl AS (SELECT p.p_partkey, p.p_name, p.p_brand, p.p_retailprice,
        |    coalesce(c.component, n.rep) AS cluster
        |  FROM p JOIN names n ON p.blk = n.blk AND p.p_name = n.p_name
        |  LEFT JOIN comp c ON n.rep = c.id)
        |SELECT cluster, CAST(count(*) AS BIGINT) AS n_members,
        |  min(p_name) AS golden_name,
        |  CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
        |  min(p_retailprice) AS price_min, max(p_retailprice) AS price_max
        |FROM cl GROUP BY 1 ORDER BY cluster""".stripMargin,
    "q298_minhash_calibration" ->
      s"""WITH $shinglesCte,
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7,
         |  count(*) AS sz
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM cand p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b),
         |j AS (SELECT co.id_a, co.id_b,
         |    CAST(co.c AS DOUBLE) / (za.sz + zb.sz - co.c) AS jaccard,
         |    CAST((CASE WHEN za.m0 = zb.m0 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m1 = zb.m1 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m2 = zb.m2 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m3 = zb.m3 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m4 = zb.m4 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m5 = zb.m5 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m6 = zb.m6 THEN 1 ELSE 0 END
         |      + CASE WHEN za.m7 = zb.m7 THEN 1 ELSE 0 END) AS DOUBLE) / 8
         |      AS est
         |  FROM common co JOIN sig za ON za.doc_id = co.id_a
         |  JOIN sig zb ON zb.doc_id = co.id_b)
         |SELECT CAST(floor(abs(est - jaccard) * 10) AS BIGINT) AS err_decile,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1 ORDER BY err_decile""".stripMargin,
    "q107_dup_spans" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents),
         |sp AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' ||
         |         w[i+4] || ' ' || w[i+5] || ' ' || w[i+6] || ' ' || w[i+7]))) AS s
         |  FROM w WHERE len(w) >= 8),
         |df8 AS (SELECT s, count(*) AS c FROM sp GROUP BY s),
         |per AS (SELECT doc_id, count(*) AS n_spans,
         |    count(*) FILTER (c >= 2) AS n_dup_spans
         |  FROM sp JOIN df8 USING (s) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_spans AS BIGINT) AS n_spans,
         |  CAST(n_dup_spans AS BIGINT) AS n_dup_spans,
         |  CAST(floor(n_dup_spans * 1000000.0 / n_spans) AS BIGINT) AS dup_ppm
         |FROM per ORDER BY doc_id""".stripMargin,
    "q58_dedup_clusters" ->
      s"$componentsCte\nSELECT doc_id, component FROM comp ORDER BY doc_id",
    "q239_cluster_sizes" ->
      s"""$componentsCte,
         |sz AS (SELECT component, count(*) AS sz FROM comp GROUP BY 1),
         |banded AS (SELECT CASE WHEN sz <= 2 THEN 2 WHEN sz <= 4 THEN 4
         |    WHEN sz <= 8 THEN 8 WHEN sz <= 16 THEN 16 ELSE 0 END
         |    AS size_bucket,
         |  CAST(count(*) AS BIGINT) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs_in FROM sz GROUP BY 1),
         |t AS (SELECT (SELECT count(*) FROM documents)
         |    - coalesce((SELECT CAST(sum(sz) AS BIGINT) FROM sz), 0)
         |    AS n_single)
         |SELECT CAST(size_bucket AS INT) AS size_bucket, n_clusters,
         |  n_docs_in FROM banded
         |UNION ALL
         |SELECT 1, CAST(n_single AS BIGINT), CAST(n_single AS BIGINT)
         |FROM t
         |ORDER BY size_bucket""".stripMargin,
    "q240_dedup_savings" ->
      """WITH d AS (SELECT doc_id, source, n_chars,
        |    min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(CASE WHEN doc_id = keep_id THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS kept_chars,
        |  CAST(sum(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0 END)
        |    AS BIGINT) AS dropped_chars,
        |  round(CAST(sum(CASE WHEN doc_id <> keep_id THEN n_chars ELSE 0
        |    END) AS DOUBLE) / sum(n_chars), 6) AS savings
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q59_dedup_keep_canonical" ->
      s"""$componentsCte
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)
         |ORDER BY doc_id""".stripMargin,
    "q120_training_pipeline" ->
      s"""$componentsCte,
         |canon AS (SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id <> component)),
         |gated AS (SELECT * FROM canon WHERE n_chars >= 120),
         |samp AS (SELECT * FROM gated
         |  WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 <
         |    CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 80 WHEN 'de' THEN 100
         |              WHEN 'es' THEN 100 ELSE 30 END),
         |sp AS (SELECT *, CASE
         |    WHEN ('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 80
         |      THEN 'train'
         |    WHEN ('0x' || substr(md5('s:' || CAST(doc_id AS VARCHAR)), 1, 6))::BIGINT % 100 < 90
         |      THEN 'val'
         |    ELSE 'test' END AS split FROM samp)
         |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  md5(list_aggregate(list_sort(list(doc_id)), 'string_agg', ',')) AS ids_md5
         |FROM sp GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q30_dedup_lastwins" ->
      """SELECT user_id, event_type, event_id, value FROM (
        |  SELECT user_id, event_type, event_id, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin,
    "q354_cdc_dedup_index" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents
         |  WHERE doc_id % 10 <= 8 AND doc_id % 17 <> 0),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
         |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM w),
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (za.sz + zb.sz - c), 6) AS jaccard
         |FROM common JOIN sizes za ON za.doc_id = id_a
         |JOIN sizes zb ON zb.doc_id = id_b
         |WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q336_incremental_dedup_del" ->
      s"""WITH w AS (SELECT doc_id, $wordsSql AS w FROM documents
         |  WHERE doc_id % 17 <> 0),
         |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
         |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM w),
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (za.sz + zb.sz - c), 6) AS jaccard
         |FROM common JOIN sizes za ON za.doc_id = id_a
         |JOIN sizes zb ON zb.doc_id = id_b
         |WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q311_incremental_dedup" ->
      s"""WITH $shinglesCte,
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (za.sz + zb.sz - c), 6) AS jaccard
         |FROM common JOIN sizes za ON za.doc_id = id_a
         |JOIN sizes zb ON zb.doc_id = id_b
         |WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q31_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |sig AS (SELECT doc_id,
         |  min(md5('0:' || shingle)) AS m0, min(md5('1:' || shingle)) AS m1,
         |  min(md5('2:' || shingle)) AS m2, min(md5('3:' || shingle)) AS m3,
         |  min(md5('4:' || shingle)) AS m4, min(md5('5:' || shingle)) AS m5,
         |  min(md5('6:' || shingle)) AS m6, min(md5('7:' || shingle)) AS m7
         |  FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band_idx, md5(m0 || '|' || m1) AS band_hash FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(m2 || '|' || m3) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(m4 || '|' || m5) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(m6 || '|' || m7) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b USING (band_idx, band_hash)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (za.sz + zb.sz - c), 6) AS jaccard
         |FROM common JOIN sizes za ON za.doc_id = id_a
         |JOIN sizes zb ON zb.doc_id = id_b
         |WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin,
    "q32_simhash_signatures" ->
      """WITH toks AS (SELECT doc_id,
        |  unnest(list_distinct(list_filter(string_split(lower(text), ' '), x -> len(x) > 0))) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id, substring(md5(tok), 1, 8) AS h8 FROM toks),
        |bits AS (SELECT doc_id, t.b,
        |  strpos('0123456789abcdef', substring(h8, CAST(t.b // 4 AS INT) + 1, 1)) - 1 AS nib
        |  FROM h, range(0, 32) t(b)),
        |votes AS (SELECT doc_id, b,
        |  ((nib // (CASE WHEN b % 4 = 0 THEN 8 WHEN b % 4 = 1 THEN 4 WHEN b % 4 = 2 THEN 2 ELSE 1 END)) % 2) * 2 - 1 AS vote
        |  FROM bits),
        |sums AS (SELECT doc_id, b, sum(vote) AS s FROM votes GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN power(2.0, 31 - b) ELSE 0.0 END) AS BIGINT) AS simhash
        |FROM sums GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q302_sparse_cosine" ->
      s"""WITH reps AS (SELECT doc_id, text FROM (
         |    SELECT doc_id, text,
         |      min(doc_id) OVER (PARTITION BY md5(text)) AS rep
         |    FROM documents) WHERE doc_id = rep),
         |w AS (SELECT doc_id, $wordsSql AS w FROM reps),
         |sh AS (SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
         |  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle FROM w),
         |tf AS (SELECT doc_id, shingle, CAST(count(*) AS BIGINT) AS tf
         |  FROM sh GROUP BY 1, 2),
         |cap AS (SELECT greatest(20, least(64, count(*) * 4 // 1000))
         |    AS df_cap
         |  FROM reps),
         |rare AS (SELECT shingle FROM tf, cap GROUP BY shingle, df_cap
         |  HAVING count(*) <= df_cap AND count(*) >= 2),
         |rsh AS (SELECT doc_id, tf.shingle FROM tf JOIN rare USING (shingle)),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rsh a JOIN rsh b ON a.shingle = b.shingle
         |    AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
         |  FROM tf GROUP BY 1),
         |dots AS (SELECT p.id_a, p.id_b, CAST(sum(ta.tf * tb.tf) AS BIGINT)
         |    AS dot
         |  FROM pairs p JOIN tf ta ON ta.doc_id = p.id_a
         |  JOIN tf tb ON tb.doc_id = p.id_b AND tb.shingle = ta.shingle
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
         |    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
         |FROM dots JOIN norms na ON na.doc_id = id_a
         |JOIN norms nb ON nb.doc_id = id_b
         |WHERE round(CAST(dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))
         |    * sqrt(CAST(nb.n2 AS DOUBLE))), 6) >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,
    "q33_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |cap AS (SELECT greatest(20, count(*) * 4 // 1000) AS df_cap FROM documents),
         |rare AS (SELECT shingle FROM sh, cap GROUP BY shingle, df_cap
         |  HAVING count(*) <= df_cap AND count(*) >= 2),
         |rsh AS (SELECT doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM rsh a JOIN rsh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 5),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
         |common AS (SELECT p.id_a, p.id_b, count(*) AS c FROM pairs p
         |  JOIN sh sa ON sa.doc_id = p.id_a
         |  JOIN sh sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
         |  GROUP BY p.id_a, p.id_b)
         |SELECT id_a, id_b,
         |  round(CAST(c AS DOUBLE) / (za.sz + zb.sz - c), 6) AS jaccard
         |FROM common JOIN sizes za ON za.doc_id = id_a
         |JOIN sizes zb ON zb.doc_id = id_b
         |WHERE CAST(c AS DOUBLE) / (za.sz + zb.sz - c) >= 0.3
         |ORDER BY id_a, id_b""".stripMargin
  )
}
