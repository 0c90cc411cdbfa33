package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Relational, Similarity}

/** Similarity-search surface over `embeddings.embedding array<float>`:
  * brute-force cosine kNN (baseline) and a deterministic IVF-ish pruned
  * variant; plus same-label near-dup top-pairs. Cosine is rounded to 6
  * decimals before ranking with id tie-breaks, so cross-engine fp noise
  * cannot reorder results.
  */
object VectorQueries {

  private def cosSql(a: String, b: String): String =
    s"round(list_sum(list_transform(range(1, len($a)+1), i -> $a[i] * $b[i])) / " +
      s"(sqrt(list_sum(list_transform($a, x -> x * x))) * " +
      s"sqrt(list_sum(list_transform($b, x -> x * x)))), 6)"

  // q121: label-centroid similarity matrix — corpus-level embedding
  // analytics (class overlap / cluster drift): per-label element-wise
  // integer sums of int8-quantized vectors, then the pairwise cosine
  // between label SUM vectors (≡ cosine of the mean vectors — the 1/n
  // scalars cancel). Everything before the final divide is integer-exact:
  // per-dim sums ≤ |label|·127 accumulate in long, and the pair-stage
  // cross products route through DECIMAL(38,0) — a long×long product
  // would silently WRAP past ~2.4e7 docs per label (non-ANSI), exactly
  // the population a 100 TB corpus reaches; decimal keeps the dot exact
  // to 38 digits and merges exactly. The one divide/round per pair is
  // then a single exactly-rounded IEEE op — identical in DuckDB, whose
  // BIGINT sums promote to HUGEINT (exact) on the same path. One
  // posexplode shuffle builds every centroid (k·dim rows out); the k×k
  // pair stage is centroid-sized, not corpus-sized — only the
  // (label, pos) partial sums ever shuffle.
  def labelCentroidSim(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val quant = Similarity.withQuantizedInt8(
        Relational.spread(Tables(s, dir).embeddings, $"vec_id"),
        $"embedding".cast("array<double>"), "_q")
      .select($"label", $"_q")
    val sums = quant
      .select($"label", posexplode($"_q").as(Seq("pos", "x")))
      .groupBy($"label", $"pos").agg(sum($"x").as("sx"))
    val a = sums.select($"label".as("la"), $"pos", $"sx".as("xa"))
    val b = sums.select($"label".as("lb"), $"pos", $"sx".as("xb"))
    val dots = a.join(b, Seq("pos")).filter($"la" <= $"lb")
      .groupBy($"la", $"lb")
      .agg(sum($"xa".cast("decimal(19,0)") * $"xb".cast("decimal(19,0)")).as("dot"))
    val norms = dots.filter($"la" === $"lb").select($"la".as("_l"), $"dot".as("_n2"))
    dots
      .join(norms.select($"_l".as("la"), $"_n2".as("_na2")), Seq("la"))
      .join(norms.select($"_l".as("lb"), $"_n2".as("_nb2")), Seq("lb"))
      .select($"la", $"lb",
        round($"dot".cast("double") / (sqrt($"_na2") * sqrt($"_nb2")), 6).as("cos"))
      .orderBy($"la", $"lb")
  }

  // q195: embedding norm screen — the degenerate-vector audit run before
  // any similarity work (zero vectors poison cosine; extreme norms skew
  // IVF cells). L2 norms via the same left-fold double arithmetic both
  // engines share; integer buckets of the ROUNDED norm so the bucket
  // edge can't flip cross-engine.
  def normScreen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n2 = aggregate($"embedding".cast("array<double>"), lit(0.0),
      (acc, x) => acc + x * x)
    Tables(s, dir).embeddings
      .select($"label", round(sqrt(n2), 6).as("nrm"))
      .groupBy($"label", floor($"nrm").cast("int").as("norm_bucket"))
      .agg(count(lit(1)).as("n"),
        min($"nrm").as("min_norm"), max($"nrm").as("max_norm"))
      .orderBy($"label", $"norm_bucket")
  }

  // q196: corpus similarity-distribution histogram — cosine over pairs
  // WITHIN hash blocks (vec_id % 50), so the pair count is block-bounded
  // at any corpus size (the geometry telemetry that decides LSH plane
  // counts / IVF cell counts). Cosines round to 6 before bucketing.
  def simHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = Tables(s, dir).embeddings
      .select($"vec_id", ($"vec_id" % 50).as("blk"),
        $"embedding".cast("array<double>").as("v"))
    val dot = graft.functions.DotProduct.dotProduct(col("a.v"), col("b.v"))
    val n2a = aggregate(col("a.v"), lit(0.0), (acc, x) => acc + x * x)
    val n2b = aggregate(col("b.v"), lit(0.0), (acc, x) => acc + x * x)
    e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .select(round(dot / (sqrt(n2a) * sqrt(n2b)), 6).as("cos"))
      .groupBy(floor($"cos" * 10).cast("int").as("cos_bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy($"cos_bucket")
  }

  // q197: the custom codegen dot_product Expression through its SQL
  // registration (GraftExtensions injectFunction) — the SQL leg of the
  // Expression surface, bounded to a 30-vector pair block. The oracle
  // re-derives the same left-fold double arithmetic with list lambdas.
  def dotExprSql(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).embeddings.createOrReplaceTempView("emb_q197")
    s.sql("""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |  round(dot_product(CAST(a.embedding AS ARRAY<DOUBLE>),
            |    CAST(b.embedding AS ARRAY<DOUBLE>)), 6) AS dot
            |FROM emb_q197 a JOIN emb_q197 b ON a.vec_id < b.vec_id
            |WHERE a.vec_id < 30 AND b.vec_id < 30
            |ORDER BY id_a, id_b""".stripMargin)
  }

  // q40: brute-force top-10 cosine neighbors for query vectors vec_id < 5.
  def knnBrute(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    Similarity.knnBruteForce(queries, corpus, 10)
      .select($"q_id", $"c_id", $"sim", $"rank")
      .orderBy($"q_id", $"rank")
  }

  // q41: IVF-ish approximate kNN — candidates share the query's coarse cell
  // (argmax-|component| axis index + sign).
  def knnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val queries = emb.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    Similarity.knnIvf(queries, corpus, 5)
      .select($"q_id", $"c_id", $"sim", $"rank")
      .orderBy($"q_id", $"rank")
  }

  // q34: embedding near-dup scan — top-20 same-(label, coarse-cell) pairs by
  // exact cosine. Blocking (the near-dup contract): candidate pairs must
  // share the label AND the deterministic axis cell (argmax-|component| +
  // sign, Similarity.axisCell — the same blocking q41 uses, reproduced in
  // the oracle). This keeps pair volume sub-quadratic: the join shuffles on
  // (label, cell_idx, cell_sign) — 2·dim cells per label — with NO corpus
  // broadcast, so it survives a corpus that doesn't fit in one executor.
  // Near-identical vectors agree on their dominant axis, so true near-dups
  // co-bucket; a hot bucket at real scale is AQE-skew-split territory.
  def nearDupTopPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    // cell from the ORIGINAL float vector (exact float comparisons →
    // oracle-reproducible); double cast + norm materialized once per vector
    // below the join, so pair-level work is a single codegen'd dot product.
    val (idx, sign) = Similarity.axisCell($"embedding")
    val cells = emb.select($"label", $"vec_id",
        idx.as("cell_idx"), sign.as("cell_sign"),
        $"embedding".cast("array<double>").as("v"))
      .withColumn("nrm", Similarity.l2Norm($"v"))
    def side(suffix: String) = cells.select($"label", $"cell_idx", $"cell_sign",
      $"vec_id".as(s"id_$suffix"), $"v".as(s"v$suffix"), $"nrm".as(s"n$suffix"))
    side("a").join(side("b"), Seq("label", "cell_idx", "cell_sign"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        round(Similarity.dot($"va", $"vb") / ($"na" * $"nb"), 6).as("sim"))
      .orderBy($"sim".desc, $"id_a", $"id_b")
      .limit(20)
  }

  // q69: hyperplane-sign LSH near-dup scan — the 2^8-bucket alternative to
  // q34's axis-cell blocking. Bucketing is a literal-weight map (NO join or
  // shuffle to assign buckets); only co-bucketed pairs get the exact cosine.
  // Top-20 by similarity with id tie-breaks (this corpus has no true
  // embedding near-dups, so a threshold would return an empty — the top-k
  // face keeps the query deterministic AND non-vacuous).
  def lshNearDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val cells = emb.select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.hyperplaneBucket($"v", dim = 64))
      .withColumn("nrm", Similarity.l2Norm($"v"))
    def side(suffix: String) = cells.select($"bucket",
      $"vec_id".as(s"id_$suffix"), $"v".as(s"v$suffix"), $"nrm".as(s"n$suffix"))
    side("a").join(side("b"), Seq("bucket"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        round(Similarity.dot($"va", $"vb") / ($"na" * $"nb"), 6).as("sim"))
      .orderBy($"sim".desc, $"id_a", $"id_b")
      .limit(20)
  }

  // q86: int8-quantized kNN with a recall face. Candidates are ranked by
  // the INTEGER dot product of unit-norm int8 vectors (exact cross-engine:
  // no float enters the ranking), and each approx top-10 hit is flagged
  // against the exact-cosine top-10 — the accuracy contract of the 4×
  // memory-compressed scan, hash-checked end to end.
  def knnQuantized(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val quant = Similarity.withQuantizedInt8(emb, $"v", "q")
      .select($"vec_id", $"v", $"q")
    val queries = quant.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"q".as("qq"))
    val joined = quant.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"),
        Similarity.dotInt8($"qq", $"q").as("score_int"),
        round(Similarity.dot($"qv", $"v") /
          (Similarity.l2Norm($"qv") * Similarity.l2Norm($"v")), 6).as("sim_exact"))
    val approxTop = Relational.topKPerGroup(joined, Seq(col("q_id")),
      Seq(col("score_int").desc, col("c_id").asc), 10, rankCol = "rank")
    val exactTop = Relational.topKPerGroup(joined, Seq(col("q_id")),
        Seq(col("sim_exact").desc, col("c_id").asc), 10, rankCol = "xrank")
      .select($"q_id", $"c_id", lit(true).as("in_exact_top10"))
    approxTop.join(exactTop, Seq("q_id", "c_id"), "left")
      .select($"q_id", $"rank", $"c_id", $"score_int",
        coalesce($"in_exact_top10", lit(false)).as("in_exact_top10"))
      .orderBy($"q_id", $"rank")
  }

  // q91: IVF centroid TRAINING (k-means) face — two Lloyd iterations made
  // integer-exact so the oracle can hash-check them: int8-quantized vectors
  // (q86's trick), iteration-0 centroids = the 8 smallest vec_ids, integer
  // L2 assignment (ties → smaller cluster), then centroid SUMS (integer,
  // not means) with iteration-1 distances ||n·x − S||²/n² — every term an
  // integer-valued double below 2^53 (exact up to ~sf0.1: n·127 ≈ 6.4e6,
  // squared ×64 dims ≈ 2.6e15 < 2^53) and the single IEEE division is
  // exactly rounded, so both engines agree bit-for-bit. Output per
  // cluster: population at each iteration, movers, integer inertia.
  // The float-mean operator behind real training is Similarity.kmeans.
  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    // spread before the per-row quantization + k-way distance fan-out —
    // the single-file embeddings table would otherwise run one task
    val quant = Similarity.withQuantizedInt8(
        graft.operators.Relational.spread(Tables(s, dir).embeddings, $"vec_id"),
        $"embedding".cast("array<double>"), "q")
      .select($"vec_id", $"q")
    val c0 = quant.filter($"vec_id" < k).select($"vec_id".as("j"), $"q".as("c"))
    val a0 = quant.crossJoin(broadcast(c0))
      .select($"vec_id", $"q", $"j", Similarity.l2SqInt($"q", $"c").as("d"))
      .groupBy($"vec_id")
      .agg(min(struct($"d", $"j")).as("m"), first($"q").as("q"))
      .select($"vec_id", $"q", $"m".getField("j").as("a0"), $"m".getField("d").as("d0"))
    val cents1 = a0.select($"a0", posexplode($"q").as(Seq("p", "x")))
      .groupBy($"a0", $"p").agg(sum($"x").cast("long").as("sv"))
      .groupBy($"a0")
      .agg(transform(array_sort(collect_list(struct($"p", $"sv"))),
        e => e.getField("sv")).as("s"))
      .join(a0.groupBy($"a0").agg(count(lit(1)).as("n")), "a0")
      .select($"a0".as("j"), $"s", $"n")
    val nD = $"n".cast("double")
    val a1 = a0.crossJoin(broadcast(cents1))
      .select($"vec_id", $"a0", $"d0", $"j",
        (aggregate(zip_with($"q".cast("array<double>"), $"s".cast("array<double>"),
          (x, y) => (nD * x - y) * (nD * x - y)),
          lit(0.0), (acc, x) => acc + x) / ($"n" * $"n")).as("d1"))
      .groupBy($"vec_id")
      .agg(first($"a0").as("a0"), first($"d0").as("d0"),
        min(struct($"d1", $"j")).getField("j").as("a1"))
    val stats0 = a1.groupBy($"a0".as("cluster"))
      .agg(count(lit(1)).as("n0"), sum($"d0").as("inertia0"),
        sum(when($"a1" =!= $"a0", 1).otherwise(0)).cast("long").as("moved_out"))
    val stats1 = a1.groupBy($"a1".as("cluster")).agg(count(lit(1)).as("n1"))
    c0.select($"j".as("cluster"))
      .join(stats0, Seq("cluster"), "left").join(stats1, Seq("cluster"), "left")
      .select($"cluster", coalesce($"n0", lit(0L)).as("n0"),
        coalesce($"n1", lit(0L)).as("n1"),
        coalesce($"moved_out", lit(0L)).as("moved_out"),
        coalesce($"inertia0", lit(0L)).as("inertia0"))
      .orderBy($"cluster")
  }

  // q99: SemDeDup-style semantic dedup face — cluster around the 8
  // smallest-id seed vectors (integer-exact assignment, q91 discipline),
  // then count near-dup pairs and drops ONLY within clusters. Threshold
  // 7/20 (cos ≥ 0.35) sits above this synthetic corpus's 99.9th pairwise
  // percentile so the pair logic actually fires; real corpora would run
  // the same operator at ~0.95. Per-cluster output: population, dup
  // pairs, dropped, kept.
  def semanticDedupFace(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (marked, pairs) = Similarity.semanticDedup(
      Tables(s, dir).embeddings, k = 8, thrNum = 7, thrDen = 20)
    val per = marked.groupBy($"cluster")
      .agg(count(lit(1)).as("n_vecs"),
        sum(when($"dropped", 1L).otherwise(0L)).as("n_dropped"))
    val dpc = pairs.groupBy($"cluster").agg(count(lit(1)).as("dup_pairs"))
    per.join(dpc, Seq("cluster"), "left")
      .select($"cluster", $"n_vecs",
        coalesce($"dup_pairs", lit(0L)).as("dup_pairs"),
        $"n_dropped", ($"n_vecs" - $"n_dropped").as("n_kept"))
      .orderBy($"cluster")
  }

  // q246: IVF cell-balance audit — the partition-skew telemetry for the
  // vector index: per axis-cell population, then one summary row (cells,
  // vectors, hottest cell, its share, and the max/avg balance factor —
  // the number that predicts whether one probe list dominates query
  // latency). All counts exact; ratios integer-ratio doubles.
  def ivfBalance(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (idx, sign) = Similarity.axisCell($"embedding")
    Tables(s, dir).embeddings
      .select(idx.as("cell_idx"), sign.as("cell_sign"))
      .groupBy($"cell_idx", $"cell_sign").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_cells"), sum($"n").as("_tot"),
        max($"n").as("max_cell"))
      .select($"n_cells", $"_tot".cast("long").as("n_vectors"),
        $"max_cell",
        round($"max_cell".cast("double") / $"_tot", 6).as("max_share"),
        round($"max_cell".cast("double") * $"n_cells" / $"_tot", 6)
          .as("balance_factor"))
  }

  // q258: Product-Quantization ADC kNN — the third ANN scale path next to
  // IVF (q41) and LSH (q69), and the one that actually fits 100 TB in
  // memory: vectors compress 64 ints → 4 codebook codes (16× on top of
  // int8's 4×), and query-time distance is 4 table lookups + an integer
  // add, never a 64-dim float op. Made integer-exact end to end so the
  // oracle hash-checks training AND search: int8-quantize then shift
  // +127 (L2 is shift-invariant, and the non-negative domain makes the
  // centroid rounding below exact in integer arithmetic); 4 subspaces ×
  // 16 dims, 8 codes each, seeded from the 8 smallest vec_ids (q91
  // discipline); one Lloyd update with centroids rounded half-up via
  // (2S+n) div (2n) — pure positive-integer ops, no IEEE division
  // anywhere; ADC tables and totals are integer sums, so summation
  // order can't matter. Corpus stays distributed (spread): encoding is
  // a map against 32 broadcast centroids; the only shuffles are the
  // (sub, code, pos) partial-sum agg (≤512 groups) and the final
  // per-vector score agg. Output: top-10 by ADC distance with the true
  // int8 L2 alongside — the quantization-error telemetry.
  // ---- shared PQ machinery (q258 / q317) ------------------------------
  // m subspaces × w dims, kCodes codes per subspace. Codebooks are
  // m·kCodes·w = 512 ints — DRIVER STATE, like k-means centroids (bytes,
  // not data). Shipping them as literals makes every encode pass a pure
  // map-side expression over the corpus scan: no corpus-sized groupBy, no
  // join, no second materialization of the exploded subvector table.
  private val (pqM, pqW, pqKCodes) = (4, 16, 8)
  private def pqSubVec(q: Seq[Int], si: Int): Seq[Int] =
    q.slice(si * pqW, si * pqW + pqW)
  private def pqL2(a: Seq[Int], b: Seq[Int]): Long =
    a.iterator.zip(b.iterator).map { case (x, y) =>
      val d = (x - y).toLong; d * d }.sum
  // codebook column: argmin over the k literal centroids — array_min on
  // (d, j) structs reproduces the ties→smaller-j rule in one codegen op
  private def pqArgminCode(sqCol: Column, cb: Seq[(Int, Seq[Int])]): Column =
    array_min(array(cb.map { case (j, c) =>
      struct(Similarity.l2SqInt(sqCol, typedLit(c)).as("d"),
        lit(j).as("j")) }: _*)).getField("j")

  /** int8(+127)-quantize the embeddings into the PQ index artifact (4×
    * smaller than the floats), materialized ONCE for training + search —
    * HOF quantization is the per-row hot spot (profiled ~1.2 s/pass on
    * the 10× probe). `extra` carries caller columns (e.g. IVF cells). */
  private def pqCorpus(s: SparkSession, dir: String, extra: Seq[(String, Column)]): DataFrame = {
    import s.implicits._
    Similarity.withQuantizedInt8(
        Relational.spread(Tables(s, dir).embeddings, $"vec_id"),
        $"embedding".cast("array<double>"), "_qi")
      .select(Seq($"vec_id", transform($"_qi", x => x + 127).as("q")) ++
        extra.map { case (n, c) => c.as(n) }: _*)
      .localCheckpoint()
  }

  /** One-Lloyd-update PQ training: seeds = the kCodes smallest vec_ids,
    * assignment by integer L2 (ties → smaller code), centroids rounded
    * half-up via (2S+n) div (2n) on the DRIVER in exact integer
    * arithmetic (same formula the oracle runs in SQL). The only corpus
    * shuffle is the (sub, code, pos) partial-sum agg — ≤ 512 groups
    * after map-side combine. Returns (seedRows, cb1). */
  private def pqTrain(corpus: DataFrame, s: SparkSession)
      : (Seq[(Int, Seq[Int])], Seq[Seq[(Int, Seq[Int])]]) = {
    import s.implicits._
    val seedRows: Seq[(Int, Seq[Int])] = corpus.filter($"vec_id" < pqKCodes)
      .select($"vec_id", $"q")
      .collect().toSeq.map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1)
    val cb0: Seq[Seq[(Int, Seq[Int])]] =
      (0 until pqM).map(si => seedRows.map { case (j, q) => j -> pqSubVec(q, si) })
    val sums = corpus.select(explode(array((0 until pqM).map(si =>
        struct(lit(si).as("sub"),
          pqArgminCode(slice($"q", si * pqW + 1, pqW), cb0(si)).as("code"),
          slice($"q", si * pqW + 1, pqW).as("sq"))): _*)).as("e"))
      .select($"e.sub".as("sub"), $"e.code".as("code"),
        posexplode($"e.sq").as(Seq("p", "x")))
      .groupBy($"sub", $"code", $"p")
      .agg(sum($"x").cast("long").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) ->
        ((2 * r.getLong(3) + r.getLong(4)) / (2 * r.getLong(4))).toInt).toMap
    val cb1: Seq[Seq[(Int, Seq[Int])]] = (0 until pqM).map(si =>
      cb0(si).map { case (j, seed) =>
        // a code that lost every member keeps its seed subvector (q91 rule)
        j -> seed.indices.map(p => sums.getOrElse((si, j, p), seed(p))) })
    (seedRows, cb1)
  }

  def pqAdc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 10
    val corpus = pqCorpus(s, dir, Seq.empty)
    val (seedRows, cb1) = pqTrain(corpus, s)
    val qFull: Seq[Int] = seedRows.find(_._1 == 0).get._2
    // ADC tables: query-to-centroid integer distances, m·k = 32 longs
    val dtab: Seq[Map[Int, Long]] = (0 until pqM).map(si =>
      cb1(si).map { case (j, c) => j -> pqL2(pqSubVec(qFull, si), c) }.toMap)
    // search pass: per-row code + table lookup, integer adds — all inside
    // one codegen stage; global top-k = TakeOrderedAndProject, never a sort
    val adc = (0 until pqM).map(si => element_at(typedLit(dtab(si)),
      pqArgminCode(slice($"q", si * pqW + 1, pqW), cb1(si)))).reduce(_ + _)
    corpus.filter($"vec_id" =!= 0)
      .select($"vec_id", adc.as("adc_d"),
        Similarity.l2SqInt($"q", typedLit(qFull)).as("true_d"))
      .orderBy($"adc_d", $"vec_id").limit(k)
      .select(row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy($"adc_d", $"vec_id")).cast("int").as("rank"),
        $"vec_id", $"adc_d", $"true_d")
      .orderBy($"rank")
  }

  // q317: IVF-PQ composed ANN — the shape a production 100 TB vector
  // store actually runs (FAISS IVFx,PQy): a coarse quantizer prunes the
  // candidate list to the query's cell, then PQ-ADC scores ONLY in-cell
  // candidates with 4 table lookups + integer adds per vector. Composes
  // q41's deterministic axis-cell coarse quantizer (argmax-|component| +
  // sign, from the ORIGINAL floats — oracle-reproducible) with q258's
  // integer-exact PQ stack (global codebooks; cell-local residual
  // training is the classic refinement, but the axis cells have no
  // centroid to take residuals against — documented trade-off). Per
  // query, the ADC distance tables are m·kCodes = 32 longs; for the 20
  // broadcast queries that's 640 longs of driver state shipped as a
  // nested literal map, so the whole search is ONE broadcast-hash join
  // on (cell_idx, cell_sign) + map-side scoring + a per-group top-k —
  // the corpus is touched exactly once, shuffles only for the final
  // 20-group WindowGroupLimit. At 100 TB: cells partition the corpus,
  // queries batch-broadcast, and the scan per query reads 1/(2·dim) of
  // the data — the IVF pruning ratio — at 16× PQ compression.
  def ivfPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (cellIdx, cellSign) = Similarity.axisCell($"embedding")
    val corpus = pqCorpus(s, dir,
      Seq("cell_idx" -> cellIdx, "cell_sign" -> cellSign))
    val (_, cb1) = pqTrain(corpus, s)
    // 20 query vectors = bounded driver artifact (like the codebooks):
    // collect once to build their ADC tables against cb1
    val qVecs: Seq[(Long, Seq[Int])] = corpus.filter($"vec_id" < 20)
      .select($"vec_id", $"q").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    val dtab: Seq[Map[Long, Map[Int, Long]]] = (0 until pqM).map(si =>
      qVecs.map { case (qid, qv) =>
        qid -> cb1(si).map { case (j, c) => j -> pqL2(pqSubVec(qv, si), c) }.toMap
      }.toMap)
    val queries = corpus.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"cell_idx", $"cell_sign", $"q".as("qq"))
    // per-candidate score: code under cb1 (literal argmin) → nested-map
    // lookup dtab[q_id][code] — zero joins beyond the cell broadcast
    val adc = (0 until pqM).map(si =>
      element_at(element_at(typedLit(dtab(si)), $"q_id"),
        pqArgminCode(slice($"q", si * pqW + 1, pqW), cb1(si)))).reduce(_ + _)
    val cand = corpus.join(broadcast(queries), Seq("cell_idx", "cell_sign"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"), adc.as("adc_d"),
        Similarity.l2SqInt($"q", $"qq").as("true_d"))
    Relational.topKPerGroup(cand, Seq(col("q_id")),
        Seq(col("adc_d").asc, col("c_id").asc), 5, rankCol = "rank")
      .select($"q_id", $"rank", $"c_id", $"adc_d", $"true_d")
      .orderBy($"q_id", $"rank")
  }

  // q351: BINARY SIGN-SKETCH ANN — 1-bit quantization with int8 rerank,
  // the RaBitQ/binary-hashing end of the compression curve: each 64-dim
  // vector collapses to its sign pattern, packed into two 32-bit halves
  // of exact BIGINTs (bit i = q[i] > 0), so the prefilter scans 16 BYTES
  // per vector — 4× smaller than int8, 16× smaller than float — and
  // ranks by Hamming distance, which whole-stage codegen executes as two
  // XOR + two POPCNT instructions per candidate. The top-64 sketch
  // candidates per query are then reranked with the exact integer int8
  // L2, giving back most of the recall the 1-bit sketch loses. This is
  // the 100 TB IO argument in its purest form: the first pass touches
  // 16 bytes/vector of a checkpointed index artifact, the exact arrays
  // are fetched only for the 64-per-query survivors. The oracle
  // reproduces the ENTIRE pipeline — quantization, packing, XOR/popcount
  // Hamming, candidate cut, rerank — in DuckDB SQL; recall@5 vs brute
  // int8-L2 truth is require-pinned in-face so a silently broken sketch
  // (recall collapse with a still-valid hash shape) crashes the gate.
  def binarySignAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
    val base = Similarity.withQuantizedInt8(emb, $"embedding".cast("array<double>"), "q")
    def half(start: Int): Column =
      (0 until 32).map(i => when(element_at($"q", start + i + 1) > lit(0),
        lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)
    // the 16-byte sketch rides next to the int8 codes as the index artifact
    val packed = base
      .select($"vec_id", $"q", half(0).as("h1"), half(32).as("h2"))
      .localCheckpoint()
    val queries = packed.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"q".as("qq"), $"h1".as("qh1"), $"h2".as("qh2"))
    val hd = bit_count($"h1".bitwiseXOR($"qh1")) +
      bit_count($"h2".bitwiseXOR($"qh2"))
    val cand = Relational.topKPerGroup(
      packed.crossJoin(broadcast(queries.select($"q_id", $"qh1", $"qh2")))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), hd.cast("long").as("hd")),
      Seq(col("q_id")), Seq(col("hd").asc, col("c_id").asc), 64, rankCol = "hr")
      .select($"q_id", $"c_id", $"hd")
    // exact arrays only for the survivors — candidates broadcast back
    val rer = packed.select($"vec_id".as("c_id"), $"q".as("cq"))
      .join(broadcast(cand), Seq("c_id"))
      .join(broadcast(queries.select($"q_id", $"qq")), Seq("q_id"))
      .select($"q_id", $"c_id", $"hd", Similarity.l2SqInt($"cq", $"qq").as("d"))
    val top = Relational.topKPerGroup(rer, Seq(col("q_id")),
        Seq(col("d").asc, col("c_id").asc), 5, rankCol = "rank")
      .select($"q_id", $"rank", $"c_id", $"hd", $"d")
    val truth = Relational.topKPerGroup(
      packed.crossJoin(broadcast(queries.select($"q_id", $"qq")))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d")),
      Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), 5, rankCol = "tr")
      .select($"q_id", $"c_id")
    val hits = top.select($"q_id", $"c_id")
      .join(truth, Seq("q_id", "c_id"), "left_semi").count()
    require(hits >= 20,
      s"q351: 64-bit sign-sketch recall@5 collapsed ($hits of 100 truth slots)")
    top.orderBy($"q_id", $"rank")
  }

  // q346: IVF-PQ with RESIDUAL codebooks — the classic refinement q317
  // documents as its trade-off, closed: the coarse quantizer is q91's
  // seeded k-means (one Lloyd update, centroids rounded half-up via
  // (2S+n) div (2n) to EXACT integers), and PQ trains on the residuals
  // q − centroid[cell] — which concentrate near zero, so the same 8
  // codes per subspace spend their resolution on a far tighter domain
  // than the raw vectors (FAISS IVF+PQ-on-residuals). Residuals shift
  // +254 into the non-negative domain (L2 is shift-invariant; the
  // half-up rounding formula stays exact only over non-negative sums).
  // Everything stays integer end to end, so the DuckDB oracle
  // hash-checks coarse training, cell assignment, residual PQ training,
  // and the ADC search. The face also PINS the refinement claim: its
  // recall@5 against brute-force int8-L2 truth must be ≥ the axis-cell
  // variant's (q317) on the same corpus — computed in-face, crash if
  // violated. At 100 TB: centroids + codebooks are driver bytes, the
  // corpus is touched once per pass, candidates are the query's cell
  // (~1/k of the corpus), and scoring is 4 table lookups + integer adds
  // per candidate.
  def ivfPqResidual(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val kCoarse = 8
    val corpus = pqCorpus(s, dir, Seq.empty)
    // coarse k-means: seeds = 8 smallest vec_ids, ONE rounded Lloyd update
    val seeds: Seq[(Int, Seq[Int])] = corpus.filter($"vec_id" < kCoarse)
      .select($"vec_id", $"q").collect().toSeq
      .map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1)
    val kmSums = corpus
      .select(pqArgminCode($"q", seeds).as("j"), $"q")
      .select($"j", posexplode($"q").as(Seq("p", "x")))
      .groupBy($"j", $"p")
      .agg(sum($"x").cast("long").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((2 * r.getLong(2) + r.getLong(3)) / (2 * r.getLong(3))).toInt).toMap
    val ckm: Seq[(Int, Seq[Int])] = seeds.map { case (j, seed) =>
      j -> seed.indices.map(p => kmSums.getOrElse((j, p), seed(p))) }
    // cell + shifted residual per vector (the index artifact, pinned)
    val ckmLit = typedLit(ckm.map(_._2))
    val resCorpus = corpus
      .select($"vec_id", $"q", pqArgminCode($"q", ckm).as("kcell"))
      .select($"vec_id", $"q".as("orig"), $"kcell",
        transform($"q", (x, i) =>
          x - element_at(element_at(ckmLit, $"kcell" + 1), i + 1) + 254).as("q"))
      .localCheckpoint()
    val (_, cbRes) = pqTrain(resCorpus, s) // codebooks over RESIDUALS
    val qRes: Seq[(Long, Seq[Int])] = resCorpus.filter($"vec_id" < 20)
      .select($"vec_id", $"q").collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Int](1))
    val dtab: Seq[Map[Long, Map[Int, Long]]] = (0 until pqM).map(si =>
      qRes.map { case (qid, qv) =>
        qid -> cbRes(si).map { case (j, c) => j -> pqL2(pqSubVec(qv, si), c) }.toMap
      }.toMap)
    val queries = resCorpus.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"kcell", $"orig".as("qorig"))
    val adc = (0 until pqM).map(si =>
      element_at(element_at(typedLit(dtab(si)), $"q_id"),
        pqArgminCode(slice($"q", si * pqW + 1, pqW), cbRes(si)))).reduce(_ + _)
    val cand = resCorpus.join(broadcast(queries), Seq("kcell"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"), adc.as("adc_d"),
        Similarity.l2SqInt($"orig", $"qorig").as("true_d"))
    val top = Relational.topKPerGroup(cand, Seq(col("q_id")),
        Seq(col("adc_d").asc, col("c_id").asc), 5, rankCol = "rank")
      .select($"q_id", $"rank", $"c_id", $"adc_d", $"true_d")
    // the refinement pin: recall@5 vs brute truth, residual ≥ axis-cell
    val queriesOrig = corpus.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"q".as("qq"))
    val truth = Relational.topKPerGroup(
      corpus.crossJoin(broadcast(queriesOrig)).filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d")),
      Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), 5, rankCol = "tr")
      .select($"q_id", $"c_id")
    def hits(df: DataFrame): Long = df.select($"q_id", $"c_id")
      .join(truth, Seq("q_id", "c_id"), "left_semi").count()
    val (resHits, axisHits) = (hits(top), hits(ivfPq(s, dir)))
    require(resHits >= axisHits,
      s"q346: residual IVF-PQ recall must be >= the axis-cell variant " +
        s"($resHits vs $axisHits of 100)")
    top.orderBy($"q_id", $"rank")
  }

  // q328: IVF multi-probe recall/cost curve — the tuning face every IVF
  // deployment reads before picking nprobe: probing ONLY the query's
  // primary cell misses true neighbors whose dominant axis differs by a
  // hair; probing the runner-up cell too roughly doubles the scanned
  // candidates and buys back recall. Cells are the deterministic axis
  // quantizer (q41); the runner-up is the second-largest |component|
  // (primary position masked to a sentinel, argmax again — both engines
  // reproduce ties identically via first-position semantics). Ranking
  // is exact integer int8 L2 with id tie-breaks; ground truth is the
  // brute-force top-5 under the SAME metric, so recall isolates the
  // PROBE decision (not quantization error — q314 measures that).
  // Output: per nprobe, total candidates scanned + hits + exact-ppm
  // recall@5 over 20 queries. At 100 TB: candidates/query scale as
  // nprobe/(2·dim) of the corpus; the probe list is a per-query literal
  // explode, the join stays one broadcast against corpus cells.
  def ivfMultiprobe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
    val base = Similarity.withQuantizedInt8(emb, $"embedding".cast("array<double>"), "q")
    val absV = transform($"embedding", x => abs(x))
    val p1 = array_position(absV, array_max(absV))
    val masked = transform(absV, (x, i) =>
      when(i === (p1 - 1).cast("int"), lit(-1.0f)).otherwise(x))
    val p2 = array_position(masked, array_max(masked))
    val cells = base.select($"vec_id", $"q",
      p1.as("c1i"), (element_at($"embedding", p1.cast("int")) > lit(0.0f)).as("c1s"),
      p2.as("c2i"), (element_at($"embedding", p2.cast("int")) > lit(0.0f)).as("c2s"))
      .localCheckpoint()
    val queries = cells.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"q".as("qq"),
        $"c1i".as("qc1i"), $"c1s".as("qc1s"), $"c2i".as("qc2i"), $"c2s".as("qc2s"))
    val truth = Relational.topKPerGroup(
      cells.crossJoin(broadcast(queries.select($"q_id", $"qq")))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d")),
      Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), 5, rankCol = "tr")
      .select($"q_id", $"c_id")
    def face(nprobe: Int): DataFrame = {
      val probeArr =
        if (nprobe == 1) array(struct($"qc1i".as("pi"), $"qc1s".as("ps")))
        else array(struct($"qc1i".as("pi"), $"qc1s".as("ps")),
          struct($"qc2i".as("pi"), $"qc2s".as("ps")))
      val probes = queries.select($"q_id", $"qq", explode(probeArr).as("p"))
        .select($"q_id", $"qq", $"p.pi".as("c1i"), $"p.ps".as("c1s"))
      val cand = cells.join(broadcast(probes), Seq("c1i", "c1s"))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d"))
      val approx = Relational.topKPerGroup(cand,
        Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), 5, rankCol = "ar")
        .select($"q_id", $"c_id")
      val hits = approx.join(truth, Seq("q_id", "c_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(broadcast(hits))
        .crossJoin(broadcast(queries.agg(count(lit(1)).as("n_q"))))
        .select(lit(nprobe).as("nprobe"), $"n_q", $"n_candidates", $"hits",
          expr("hits * 1000000 div (5 * n_q)").as("recall_ppm"))
    }
    face(1).unionByName(face(2)).orderBy($"nprobe")
  }

  // q335: the native vector stack reached FROM SQL — `quantize_int8`
  // and `dot_product` registered through GraftExtensions, so a SQL-only
  // user (BI tool, notebook, spark-sql shell) runs the same codegen
  // expressions the Column API uses (the q304 cdc_cuts discipline,
  // extended to the vector family). Integer dot products of unit-norm
  // int8 vectors over a bounded id slice, total-ordered top-25; the
  // oracle recomputes quantization + dot in pure DuckDB SQL — one
  // wrong element in the native path's SQL leg breaks the hash.
  def vectorSql(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir).embeddings.createOrReplaceTempView("emb_q335")
    s.sql("""WITH z AS (SELECT vec_id,
            |    quantize_int8(CAST(embedding AS ARRAY<DOUBLE>)) AS q
            |  FROM emb_q335 WHERE vec_id < 30),
            |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |    CAST(dot_product(CAST(a.q AS ARRAY<DOUBLE>),
            |      CAST(b.q AS ARRAY<DOUBLE>)) AS BIGINT) AS dot_int
            |  FROM z a JOIN z b ON a.vec_id < b.vec_id)
            |SELECT id_a, id_b, dot_int FROM p
            |ORDER BY dot_int DESC, id_a, id_b LIMIT 25""".stripMargin)
  }

  // q308: per-dimension distribution audit over int8-quantized vectors —
  // the feature-scaling statistics (mean/σ/range per dimension) computed
  // where they are EXACT: quantized components are integers, so n, Σq,
  // Σq² are exact longs and σ = √(n·Σq² − (Σq)²)/n is one IEEE
  // expression both engines evaluate identically — a float-embedding
  // version of the same stats would be summation-order-dependent and
  // engine-divergent. One posexplode + one hash aggregate; output is
  // |dims| rows however large the corpus. Dead/degenerate dimensions
  // (σ ≈ 0) are what this screen exists to catch before training.
  def dimStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val quant = Similarity.withQuantizedInt8(emb, $"v", "q")
    quant.select(posexplode($"q").as(Seq("dim", "qv")))
      .groupBy($"dim")
      .agg(count(lit(1)).as("n"), sum($"qv").cast("long").as("s"),
        sum(($"qv" * $"qv").cast("long")).as("s2"),
        min($"qv").as("q_min"), max($"qv").as("q_max"))
      .select($"dim".cast("long").as("dim"), $"n", $"q_min", $"q_max",
        round($"s".cast("double") / $"n", 6).as("mean"),
        round(sqrt(($"n" * $"s2" - $"s" * $"s").cast("double")) / $"n", 6)
          .as("std"))
      .orderBy($"dim")
  }

  // q314: ANN ranking-quality evaluation — the harness that decides
  // whether the quantized fast path is GOOD ENOUGH to ship: for each of
  // 50 queries, where does the true (exact-cosine) nearest neighbor land
  // in the int8 ranking? Output is the rank histogram with cumulative
  // recall in exact ppm (rank_bucket 0 = "missed the top-10") — pure
  // integer ratios, so the evaluation itself can never be the flaky
  // part. MRR/recall@k all read off this table. One broadcast of the
  // query set, one candidate pass, two WindowGroupLimit top-ks.
  def annRankEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val quant = Similarity.withQuantizedInt8(emb, $"v", "q")
      .select($"vec_id", $"v", $"q")
    val queries = quant.filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"q".as("qq"))
    val joined = quant.crossJoin(broadcast(queries))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"),
        Similarity.dotInt8($"qq", $"q").as("score_int"),
        round(Similarity.dot($"qv", $"v") /
          (Similarity.l2Norm($"qv") * Similarity.l2Norm($"v")), 6).as("sim_exact"))
      .localCheckpoint()
    val truth = Relational.topKPerGroup(joined, Seq(col("q_id")),
        Seq(col("sim_exact").desc, col("c_id").asc), 1, rankCol = "xr")
      .select($"q_id", $"c_id")
    val approx = Relational.topKPerGroup(joined, Seq(col("q_id")),
        Seq(col("score_int").desc, col("c_id").asc), 10, rankCol = "arank")
      .select($"q_id", $"c_id", $"arank")
    val found = truth.join(approx, Seq("q_id", "c_id"), "left")
      .select($"q_id", coalesce($"arank", lit(0)).as("rank_bucket"))
    val tot = found.agg(count(lit(1)).as("n_q"))
    found.groupBy($"rank_bucket").agg(count(lit(1)).as("n_queries"))
      .crossJoin(broadcast(tot))
      .select($"rank_bucket".cast("long").as("rank_bucket"), $"n_queries",
        floor($"n_queries" * lit(1000000L) / $"n_q").cast("long").as("share_ppm"))
      .orderBy($"rank_bucket")
  }

  // q386: HYBRID RETRIEVAL FUSION (reciprocal-rank fusion, k=60) — the
  // retrieval shape every RAG / LLM-training search pipeline ships: a
  // LEXICAL leg (token-set Jaccard against the query document) and a
  // DENSE leg (exact cosine over embeddings) each rank the corpus
  // independently, RRF fuses the two TOP-50 lists per query with
  // score = Σ 1/(60 + rank), and the face returns the fused top-10.
  // Truncated-list RRF is the production contract (fuse each leg's
  // top-K; a candidate absent from a leg contributes 0 there), so no
  // leg ever ranks the full corpus. Scale: the 5 query documents
  // BROADCAST down both legs — the lexical leg is a broadcast token
  // join + one (q_id, c_id) aggregation (candidate volume = Σ matched
  // tokens, never a corpus self-join), the dense leg is q40's
  // broadcast-query brute kNN — and the fusion full-outer-joins two
  // ≤|q|·50-row lists. Every score is deterministic cross-engine:
  // Jaccard and 1/(60+r) are single double divisions of exact
  // integers, cosine is the 6-dp-rounded shared formula.
  def rrfHybridFusion(s: SparkSession, dir: String): DataFrame =
    rrfHybridFusionN(s, dir, 5L)

  /** The q386 pipeline with a parametrized query-set size — the gate face
    * runs 5 query docs; `PlanGuardSpec` drives the SAME plan at
    * |q| = 10³ to confirm the legs stay keyed on (token) and (q_id, c_id)
    * with no cartesian anywhere; the dense leg's brute kNN is the one
    * nested loop, over the broadcast queries (r11 verdict item 7). */
  def rrfHybridFusionN(s: SparkSession, dir: String, nq: Long): DataFrame = {
    import s.implicits._
    val docs = Tables(s, dir).documents
    val emb = Tables(s, dir).embeddings
    // lexical leg: distinct lowercase alpha tokens per document
    val tok = docs.select($"doc_id",
        explode(split(lower($"text"), "[^a-z]+")).as("w"))
      .filter($"w" =!= "").distinct()
    val sz = tok.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val qtok = tok.filter($"doc_id" < nq).select($"doc_id".as("q_id"), $"w")
    val qsz = sz.filter($"doc_id" < nq).select($"doc_id".as("q_id"), $"n".as("qn"))
    val inter = tok.select($"doc_id".as("c_id"), $"w")
      .join(broadcast(qtok), Seq("w"))
      .filter($"c_id" =!= $"q_id")
      .groupBy($"q_id", $"c_id").agg(count(lit(1)).as("i"))
    val lex = inter
      .join(broadcast(qsz), Seq("q_id"))
      .join(sz.select($"doc_id".as("c_id"), $"n".as("cn")), Seq("c_id"))
      .select($"q_id", $"c_id",
        ($"i".cast("double") / ($"qn" + $"cn" - $"i")).as("jac"))
    val lexTop = graft.operators.Relational.topKPerGroup(lex, Seq($"q_id"),
        Seq($"jac".desc, $"c_id".asc), 50, rankCol = "r_lex")
      .select($"q_id", $"c_id", $"r_lex")
    // dense leg: q40's broadcast brute kNN, top-50 (rounded-6dp cosine)
    val queriesE = emb.filter($"vec_id" < nq)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpusE = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val denTop = Similarity.knnBruteForce(queriesE, corpusE, 50)
      .select($"q_id", $"c_id", $"rank".as("r_den"))
    val fused = lexTop.join(denTop, Seq("q_id", "c_id"), "full_outer")
      .select($"q_id", $"c_id",
        (coalesce(lit(1.0) / (lit(60) + $"r_lex"), lit(0.0)) +
         coalesce(lit(1.0) / (lit(60) + $"r_den"), lit(0.0))).as("rrf"))
    graft.operators.Relational.topKPerGroup(fused, Seq($"q_id"),
        Seq($"rrf".desc, $"c_id".asc), 10, rankCol = "rank")
      .select($"q_id", $"c_id", $"rrf", $"rank")
      .orderBy($"q_id", $"rank")
  }

  // q388: MMR DIVERSIFICATION (maximal marginal relevance, λ=0.7) —
  // the rerank every retrieval stack runs after fusion: from each
  // query's top-20 cosine candidates, greedily pick 5 maximizing
  // λ·rel(c) − (1−λ)·max_{s∈picked} sim(c, s) — relevance traded
  // against redundancy, so near-duplicate hits stop crowding the
  // context window. Scale: the rerank is PER-QUERY bounded state (20
  // candidates × dim doubles) inside `flatMapGroups` — a million
  // queries parallelize across the cluster, and no stage ever
  // materializes more than the top-k lists the retrieval already
  // paid for. Cross-engine determinism: rel and pairwise sims are the
  // shared 6-dp-rounded cosine; the greedy argmax tie-breaks on
  // (score DESC, c_id ASC); λ enters as the same double literal both
  // sides — the oracle unrolls the 5 greedy steps as CTE stages.
  def mmrDiversify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val top = Similarity.knnBruteForce(queries, corpus, 20)
      .select($"q_id", $"c_id", $"sim".as("rel"))
    // candidate vectors ride into the per-query rerank group
    val withVec = top.join(emb.select($"vec_id".as("c_id"),
        $"embedding".cast("array<double>").as("v")), Seq("c_id"))
      .select($"q_id", $"c_id", $"rel", $"v")
      .as[(Long, Long, Double, Seq[Double])]
    val picked = withVec.groupByKey(_._1).flatMapGroups {
      (q: Long, it: Iterator[(Long, Long, Double, Seq[Double])]) =>
        // deterministic entry order (iterator order is not guaranteed)
        var remaining = it.toVector.sortBy(_._2)
        // Spark round(col, 6)'s exact twin: BigDecimal HALF_UP — the
        // same rounding the rel leg and the oracle's round() apply
        def r6(x: Double): Double =
          BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        def cos(a: Seq[Double], b: Seq[Double]): Double = {
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          r6(dot / (math.sqrt(na) * math.sqrt(nb)))
        }
        var sel = Vector.empty[Seq[Double]]
        val out = scala.collection.mutable.Buffer.empty[(Long, Long, Double, Int)]
        var step = 1
        while (step <= 5 && remaining.nonEmpty) {
          val scored = remaining.map { case (_, cId, rel, v) =>
            val pen = if (sel.isEmpty) 0.0 else sel.map(sv => cos(v, sv)).max
            (cId, v, 0.7 * rel - 0.3 * pen)
          }
          val best = scored.minBy { case (cId, _, sc) => (-sc, cId) }
          out += ((q, best._1, best._3, step))
          sel = sel :+ best._2
          remaining = remaining.filterNot(_._2 == best._1)
          step += 1
        }
        out.iterator
    }
    picked.toDF("q_id", "c_id", "mmr", "rank")
      .select($"q_id", $"c_id", $"mmr", $"rank".cast("int").as("rank"))
      .orderBy($"q_id", $"rank")
  }

  // q389: CONTEXT PACKING — the last step of a retrieval pipeline:
  // walk each query's ranked hits in order and keep the PREFIX whose
  // cumulative whitespace-token count fits the context budget (256
  // here). Pure window algebra — a running sum over (q_id, rank) and a
  // prefix filter — so it rides whole-stage codegen end to end: no
  // UDF, no per-query loop. Scale: the ranked lists are |q|·20 rows
  // (broadcastable), token counts join on c_id (one bounded shuffle),
  // and the window partitions by q_id over ≤20 rows each — millions of
  // queries parallelize with no skew (every partition is the same
  // size by construction).
  def contextPack(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = Tables(s, dir).embeddings
    val docs = Tables(s, dir).documents
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpus = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    val top = Similarity.knnBruteForce(queries, corpus, 20)
      .select($"q_id", $"c_id", $"rank")
    // doc_id = vec_id in the corpus; token counts via the shared
    // whitespace tokenizer (PF.tokens ≡ the oracle's wordsSql)
    val toks = docs.select($"doc_id".as("c_id"),
      size(graft.functions.ParityFunctions.tokens($"text"))
        .cast("long").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"q_id").orderBy($"rank")
    top.join(toks, Seq("c_id"))
      .withColumn("cum_tokens", sum($"n_tokens").over(w))
      .filter($"cum_tokens" <= 256L)
      .select($"q_id", $"c_id", $"rank", $"n_tokens", $"cum_tokens")
      .orderBy($"q_id", $"rank")
  }

  // q391: ANN INDEX MAINTAINED FROM THE CHANGE FEED — the retrieval twin
  // of q354's dedup contract, the last LLM-pipeline integration the
  // lakehouse + similarity stacks hadn't composed: the embedding corpus
  // lives in a versioned manifest table, and the IVF index (coarse
  // centroids + int8 codes + cell assignments) is a DOWNSTREAM
  // MATERIALIZATION of its change feed. The quantizer trains ONCE, on the
  // v1 snapshot (q346's seeded k-means, one integer-rounded Lloyd
  // update), and is then FROZEN — re-training would reassign every vector,
  // i.e. the full rebuild incremental maintenance exists to avoid. From
  // there the table moves on (two appends, one GDPR-shaped equality
  // delete) and ONE feed read maintains the index: insert events QUANTIZE
  // + ASSIGN THEMSELVES against the broadcast frozen centroids (O(|delta|
  // × k) work, history never re-read), delete events tombstone via ONE
  // anti join over the artifact (O(|index|)). The checked identity is the
  // strong one, require-pinned: the feed-maintained index is row-for-row
  // EQUAL (both exceptAll directions) to a from-scratch re-quantize +
  // re-assign of the FINAL snapshot under the same frozen centroids — so
  // cell-probed search through it is exactly the rebuilt index's search,
  // and the DuckDB oracle recomputes the whole pipeline (training, final
  // live set, assignment, probe, integer-exact ranking) independently.
  // At 100 TB with daily appends this is the production retrieval shape:
  // centroids are driver bytes, each ingest signs only its delta, GDPR
  // erasures flow through the SAME feed as ingest, and recall stays
  // whatever the frozen quantizer gives until a scheduled re-train —
  // which IS the rebuild, done deliberately, not per commit.
  /** int8(+127)-quantize an (vec_id, embedding) frame — the index-code
    * view shared by the CDF-maintained (q391) and stream-maintained
    * (q397) index faces. */
  private def annQuant(s: SparkSession, df: DataFrame): DataFrame = {
    import s.implicits._
    Similarity.withQuantizedInt8(df, $"embedding".cast("array<double>"), "_qi")
      .select($"vec_id", transform($"_qi", x => x + 127).as("q"))
  }

  /** q346's coarse k-means over a quantized frame: seeds = the kCoarse
    * smallest vec_ids, ONE integer-rounded Lloyd update — trained once
    * on the v1 snapshot, then FROZEN (re-training reassigns every
    * vector: that IS the rebuild incremental maintenance avoids). */
  private def annTrainCentroids(s: SparkSession, v1q: DataFrame,
                                kCoarse: Int = 8): Seq[(Int, Seq[Int])] = {
    import s.implicits._
    val seeds: Seq[(Int, Seq[Int])] = v1q.filter($"vec_id" < kCoarse)
      .select($"vec_id", $"q").collect().toSeq
      .map(r => r.getLong(0).toInt -> r.getSeq[Int](1)).sortBy(_._1)
    val kmSums = v1q
      .select(pqArgminCode($"q", seeds).as("j"), $"q")
      .select($"j", posexplode($"q").as(Seq("p", "x")))
      .groupBy($"j", $"p")
      .agg(sum($"x").cast("long").as("sv"), count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((2 * r.getLong(2) + r.getLong(3)) / (2 * r.getLong(3))).toInt).toMap
    seeds.map { case (j, seed) =>
      j -> seed.indices.map(p => kmSums.getOrElse((j, p), seed(p))) }
  }

  def cdfAnnIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val kCoarse = 8
    val out = Scratch.dir("q391", dir)
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
      .select($"vec_id", $"embedding")
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8), out,
      append = false, sized = true) // v1
    def quant(df: DataFrame): DataFrame = annQuant(s, df)
    // the quantizer trains ONCE, on v1 (then frozen): q346's coarse
    // k-means — seeds = 8 smallest vec_ids, one rounded Lloyd update
    val v1q = quant(ManifestTable.read(s, out, 1)).localCheckpoint()
    val ckm = annTrainCentroids(s, v1q, kCoarse)
    // the v1 index artifact (in production: q310-style parquet)
    val idx1 = v1q.select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"q")
    // the table moves on: two ingest appends + a GDPR erasure
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 8), out,
      append = true, sized = true) // v2
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 9), out,
      append = true, sized = true) // v3
    ManifestTable.delete(
      emb.filter($"vec_id" % 17 === 0).select($"vec_id"), out, "vec_id", sized = true)       // v4
    // ONE feed read drives both maintenance paths
    val feed = ManifestTable.changeFeed(s, out, 1).localCheckpoint()
    val ins = feed.filter($"_change_type" === "insert")
      .select($"vec_id", $"embedding")
    val tomb = feed.filter($"_change_type" === "delete")
      .select($"vec_id").distinct().localCheckpoint()
    require(ins.count() > 0 && tomb.count() > 0,
      "q391: the feed must carry both insert and delete events")
    // inserts sign themselves against the FROZEN centroids; deletes
    // tombstone the whole artifact in one anti join
    val idxD = quant(ins).select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"q")
    val idx = idx1.unionByName(idxD)
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    // the identity pin: maintained ≡ rebuilt over the FINAL snapshot
    // under the same frozen centroids — row-for-row, both directions
    val rebuilt = quant(
        ManifestTable.read(s, out, ManifestTable.currentVersion(out)))
      .select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"q")
    require(Relational.bagDiff(idx, rebuilt).isEmpty,
      "q391: the feed-maintained index must equal the from-scratch rebuild")
    // cell-probed search through the MAINTAINED index (exact int8 L2,
    // id tie-breaks); recall vs brute truth on the live set sanity-pinned
    val queries = idx.filter($"vec_id" < 20)
      .select($"vec_id".as("q_id"), $"kcell", $"q".as("qq"))
    val cand = idx.join(broadcast(queries), Seq("kcell"))
      .filter($"vec_id" =!= $"q_id")
      .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d"))
    val top = Relational.topKPerGroup(cand, Seq(col("q_id")),
        Seq(col("d").asc, col("c_id").asc), 5, rankCol = "rank")
      .select($"q_id", $"rank", $"c_id", $"d")
    val truth = Relational.topKPerGroup(
      idx.crossJoin(broadcast(queries.select($"q_id", $"qq")))
        .filter($"vec_id" =!= $"q_id")
        .select($"q_id", $"vec_id".as("c_id"), Similarity.l2SqInt($"q", $"qq").as("d")),
      Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), 5, rankCol = "tr")
      .select($"q_id", $"c_id")
    val hits = top.select($"q_id", $"c_id")
      .join(truth, Seq("q_id", "c_id"), "left_semi").count()
    require(hits >= 20,
      s"q391: cell-probed recall@5 collapsed ($hits truth slots)")
    top.orderBy($"q_id", $"rank")
  }

  // q396: RETRIEVAL QUALITY EVALUATION — the harness that decides
  // whether the hybrid stack (q386 fusion) is actually good before
  // anyone ships it: NDCG@10 with graded relevance and reciprocal rank
  // with binary relevance, per query. Ground truth is the exact
  // rounded-cosine ordering (the dense leg's own metric, so the eval
  // isolates what FUSION gains/loses vs pure dense retrieval).
  // Cross-engine float contract, the strictest in the repo: gains are
  // INTEGERS (round(cos·10⁶) clamped at 0), discount weights are
  // INTEGER literals W_i = round(10⁶/log2(i+1)) computed ONCE in Scala
  // and inlined into BOTH engines' queries — so DCG and IDCG are exact
  // long sums (order-free), and NDCG is ONE division of two longs.
  // Reciprocal rank is 1/first-relevant-rank (exact binary fraction).
  // No float ever enters an aggregation. Per-query rows (no cross-query
  // mean) keep even the output order-free. At 100 TB the eval is two
  // top-k joins over lists the retrieval already paid for.
  private val NdcgW: Seq[Long] =
    (1 to 10).map(i => Math.round(1e6 / (Math.log(i + 1.0) / Math.log(2.0))))
  def retrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fused = rrfHybridFusionN(s, dir, 5L).select($"q_id", $"c_id", $"rank")
    val emb = Tables(s, dir).embeddings
    val queriesE = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"embedding".as("q_vec"))
    val corpusE = emb.select($"vec_id".as("c_id"), $"embedding".as("c_vec"))
    // the full graded ordering per query (rank = the IDEAL ordering)
    val simAll = Similarity.knnBruteForce(queriesE, corpusE, 1 << 30)
      .select($"q_id", $"c_id", $"sim", $"rank".as("ideal_rank"))
      .localCheckpoint()
    val gain = greatest(round($"sim" * 1e6).cast("long"), lit(0L))
    val wOf = (r: Column) => element_at(typedLit(NdcgW), r)
    val dcg = fused
      .join(simAll.select($"q_id", $"c_id", $"sim"), Seq("q_id", "c_id"), "left")
      .select($"q_id", (coalesce(gain, lit(0L)) * wOf($"rank")).as("t"))
      .groupBy($"q_id").agg(sum($"t").as("dcg"))
    val idcg = simAll.filter($"ideal_rank" <= 10)
      .select($"q_id", (gain * wOf($"ideal_rank")).as("t"))
      .groupBy($"q_id").agg(sum($"t").as("idcg"))
    val rel5 = simAll.filter($"ideal_rank" <= 5).select($"q_id", $"c_id")
    val hits = fused.join(rel5, Seq("q_id", "c_id"), "left_semi")
      .groupBy($"q_id")
      .agg(count(lit(1)).as("n_rel"), min($"rank").as("first_rel"))
    val out = dcg.join(idcg, Seq("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select($"q_id",
        coalesce($"n_rel", lit(0L)).as("n_rel_at_10"),
        coalesce(lit(1.0) / $"first_rel", lit(0.0)).as("rr"),
        ($"dcg".cast("double") / $"idcg".cast("double")).as("ndcg"))
      .orderBy($"q_id")
    require(out.filter($"ndcg".isNull || $"ndcg" < 0).isEmpty,
      "q396: NDCG must be defined and non-negative for every query")
    out
  }

  // q397: STREAM-MAINTAINED ANN INDEX — q391's maintenance contract on
  // the streaming trigger path: the versioned embedding table is ALSO a
  // stream (q344's one-commit-per-micro-batch source), and a foreachBatch
  // sink maintains the index artifact per trigger — each batch quantizes
  // + assigns ITSELF against the broadcast frozen centroids and appends
  // (vec_id, kcell) to the parquet index, no history ever re-read
  // (require-pinned: exactly one micro-batch per appended commit). The
  // GDPR erasure then flows through the BATCH compliance path — the
  // change feed's delete events tombstone the artifact in one anti join —
  // because the ingest stream is append-only by contract (a delete
  // commit in its range fails loudly; separating the two paths is how
  // production systems wire it too). Identity require-pinned: the
  // stream+tombstone-maintained index equals a from-scratch re-assign of
  // the final snapshot under the same frozen centroids, both exceptAll
  // directions. Output = the per-cell index state (counts + id
  // checksums), so any drift in routing, batch boundaries, or tombstones
  // moves the gate hash. At 100 TB: per-trigger work is O(|commit| × k)
  // map-side assignment; the checkpoint makes restarts exactly-once.
  def streamAnnIngest(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q397", dir)
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
      .select($"vec_id", $"embedding")
    val tbl = s"$out/tbl"
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8), tbl,
      append = false, sized = true) // v1
    val v1 = ManifestTable.read(s, tbl, 1)
    val tblSchema = v1.schema
    val v1q = annQuant(s, v1).localCheckpoint()
    val ckm = annTrainCentroids(s, v1q)
    val indexDir = s"$out/index"
    v1q.select($"vec_id", pqArgminCode($"q", ckm).as("kcell"))
      .write.mode("overwrite").parquet(indexDir)
    // two ingest commits land; the stream drains them as two triggers
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 8), tbl,
      append = true, sized = true) // v2
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 9), tbl,
      append = true, sized = true) // v3
    val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
      .schema(tblSchema).option("path", tbl).option("startVersion", "1").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        annQuant(s, batch)
          .select(col("vec_id"), pqArgminCode(col("q"), ckm).as("kcell"))
          .write.mode("append").parquet(indexDir)
      }
      .option("checkpointLocation", s"$out/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    require(batches == 2,
      s"q397: two appended commits must maintain the index as two micro-batches, got $batches")
    // the compliance path: delete events tombstone the artifact
    ManifestTable.delete(
      emb.filter($"vec_id" % 17 === 0).select($"vec_id"), tbl, "vec_id", sized = true)       // v4
    val tomb = ManifestTable.changeFeed(s, tbl, 3)
      .filter($"_change_type" === "delete").select($"vec_id").distinct()
    require(tomb.count() > 0, "q397: the feed must carry delete events")
    val live = s.read.parquet(indexDir)
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    val rebuilt = annQuant(s,
        ManifestTable.read(s, tbl, ManifestTable.currentVersion(tbl)))
      .select($"vec_id", pqArgminCode($"q", ckm).as("kcell"))
    require(Relational.bagDiff(live, rebuilt).isEmpty,
      "q397: the stream-maintained index must equal the from-scratch rebuild")
    live.groupBy($"kcell".cast("long").as("kcell"))
      .agg(count(lit(1)).as("n_vectors"), sum($"vec_id").as("sum_ids"),
        min($"vec_id").as("min_id"), max($"vec_id").as("max_id"))
      .orderBy($"kcell")
  }

  // q403: INDEX DRIFT MONITOR — the RETRAIN TRIGGER the frozen-quantizer
  // contract (q391/q397) deliberately leaves open: incremental
  // maintenance keeps the index CORRECT under a frozen quantizer, but
  // recall decays silently as the corpus distribution walks away from
  // the train-time one — so production schedules retrains off a drift
  // signal, not a calendar. The signal here is q223's PSI applied to the
  // index's OWN routing: per IVF cell, the train-time population share
  // vs the current population share (both from ONE frozen-centroid
  // assignment pass — O(n·k) map-side against broadcast centroids, one
  // cell-keyed aggregate, PSI algebra over the k=8 cell rows). Counts
  // are exact integers; the only floats are q223's proven contract
  // (share division, one ln, 6-dp rounding); empty-on-either-side cells
  // contribute NULL, never ±inf. At 100 TB the monitor rides the
  // assignment the maintenance pipeline already computes — drift
  // detection costs one k-row aggregate per audit.
  def indexDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val allq = annQuant(s,
      Tables(s, dir).embeddings.select($"vec_id", $"embedding"))
      .localCheckpoint()
    val ckm = annTrainCentroids(s, allq.filter($"vec_id" % 10 < 8))
    val byCell = allq
      .select($"vec_id", pqArgminCode($"q", ckm).as("kcell"))
      .groupBy($"kcell".cast("long").as("kcell"))
      .agg(sum(when($"vec_id" % 10 < 8, 1L).otherwise(0L)).as("n_train"),
        count(lit(1)).as("n_now"))
    byCell
      .select($"kcell", $"n_train", $"n_now",
        ($"n_train".cast("double") / sum($"n_train").over(w)).as("_pa"),
        ($"n_now".cast("double") / sum($"n_now").over(w)).as("_pb"))
      .select($"kcell", $"n_train", $"n_now", $"_pa", $"_pb",
        when($"n_train" > 0 && $"n_now" > 0,
          ($"_pa" - $"_pb") * log($"_pa" / $"_pb")).as("_c"))
      .select($"kcell", $"n_train", $"n_now",
        round($"_pa", 6).as("p_train"), round($"_pb", 6).as("p_now"),
        round($"_c", 6).as("contrib"), round(sum($"_c").over(w), 6).as("psi"))
      .orderBy($"kcell")
  }

  // q406: FILTERED ANN — metadata-constrained vector search ("top-k
  // similar AND grp = 1"), the retrieval shape every production system
  // serves and naive stacks get wrong. The gate output is the CORRECT
  // answer: exact int8-L2 top-5 over the FILTERED corpus (25%
  // selectivity via vec_id % 4), integer-exact so the oracle recomputes
  // it bit-for-bit. Two require-pinned contrasts ride along: (a) the
  // POST-FILTER anti-pattern — global top-5 then filter — returns
  // FEWER than k results for at least one query (the deficiency that
  // silently starves downstream rerankers); (b) the scale path —
  // candidates from the query's top-2 IVF cells (frozen q403 centroids)
  // intersected with the filter — reaches a recall floor against the
  // exact answer while touching only probed-cell rows. At 100 TB:
  // the filter pushes into the cell scan (grp is a stats/partition
  // column there), candidates = |probed cells ∩ filter|, queries
  // broadcast, never a corpus-sized shuffle.
  def filteredAnn(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val allq = annQuant(s,
      Tables(s, dir).embeddings.select($"vec_id", $"embedding"))
      .localCheckpoint()
    val corpus = allq.select($"vec_id", ($"vec_id" % 4).as("grp"), $"q")
    val queries = allq.filter($"vec_id" < 5)
      .select($"vec_id".as("q_id"), $"q".as("qq"))
    val filtered = corpus.filter($"grp" === 1)
    def rank(cand: DataFrame, k: Int, rc: String) =
      Relational.topKPerGroup(
        cand.filter($"vec_id" =!= $"q_id")
          .select($"q_id", $"vec_id".as("c_id"),
            Similarity.l2SqInt($"q", $"qq").as("d")),
        Seq(col("q_id")), Seq(col("d").asc, col("c_id").asc), k, rankCol = rc)
    // the CORRECT pre-filter answer: exact over the filtered corpus
    val exact = rank(filtered.crossJoin(broadcast(queries)), 5, "rank")
      .select($"q_id", $"rank", $"c_id", $"d")
      .localCheckpoint()
    // (a) post-filter anti-pattern: global top-5, THEN filter — starves
    val postFiltered = rank(corpus.crossJoin(broadcast(queries)), 5, "_r")
      .filter($"c_id" % 4 === 1)
      .groupBy($"q_id").agg(count(lit(1)).as("n"))
    val minPost = postFiltered.agg(min($"n")).head.getLong(0)
    require(minPost < 5,
      s"q406: post-filter must under-fill k for some query (min $minPost)")
    // (b) the scale path: filter ∩ top-2 probed cells, recall floor
    val ckm = annTrainCentroids(s, allq.filter($"vec_id" % 10 < 8))
    val cellOf = corpus.select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"grp", $"q")
    val qCells = queries.select($"q_id", $"qq",
        posexplode(pqTop2Cells($"qq", ckm)).as(Seq("_p", "kcell")))
      .select($"q_id", $"qq", $"kcell")
    val probed = rank(cellOf.filter($"grp" === 1)
        .join(broadcast(qCells), Seq("kcell")), 5, "_r")
      .select($"q_id", $"c_id")
    val hits = probed.join(exact.select($"q_id", $"c_id"),
      Seq("q_id", "c_id"), "left_semi").count()
    require(hits >= 15,
      s"q406: cell-probed filtered recall collapsed ($hits of 25 slots)")
    exact.orderBy($"q_id", $"rank")
  }

  /** The query's two nearest coarse cells (by int8 L2) — the multiprobe
    * list for the filtered-ANN face. */
  private def pqTop2Cells(q: Column, ckm: Seq[(Int, Seq[Int])]): Column = {
    val ds = ckm.map { case (j, c) =>
      struct(Similarity.l2SqInt(q, typedLit(c)).as("d"), lit(j).as("j")) }
    slice(array_sort(array(ds: _*)), 1, 2).getField("j")
  }

  // q408: LATE-INTERACTION (MAXSIM) RETRIEVAL — the ColBERT scoring
  // family, the third retrieval interaction pattern after single-vector
  // dense (q40/q41) and lexical (q303): documents and queries are BAGS
  // of token vectors, and score(q, d) = Σ over query tokens of the MAX
  // dot product against d's tokens — fine-grained term matching that a
  // single pooled vector provably loses. Token bags derive
  // deterministically from the embeddings table (vec_id/4 = doc,
  // vec_id%4 = token slot); every dot product is int8×int8 integer
  // arithmetic, max and sum over integers — bit-exact cross-engine.
  // Scale shape: queries (2 docs × ≤4 tokens) broadcast; the token-pair
  // score is ONE map-side pass over corpus tokens; max-per-(q,qt,d) and
  // sum-per-(q,d) are two keyed aggregates whose cardinality is
  // |corpus tokens| × |query tokens| / |doc| — never a corpus×corpus
  // product. In production the corpus side is the q391 feed-maintained
  // index and candidates come cell-pruned; here the exact full ranking
  // IS the gate output (top-5 docs/query, oracle-recomputed).
  def maxsimRetrieval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = annQuant(s,
        Tables(s, dir).embeddings.select($"vec_id", $"embedding"))
      .select(($"vec_id" / 4).cast("long").as("d_id"),
        ($"vec_id" % 4).as("slot"), $"q")
      .localCheckpoint()
    val qtoks = toks.filter($"d_id" < 2)
      .select($"d_id".as("q_id"), $"slot".as("q_slot"), $"q".as("qq"))
    val pair = toks.crossJoin(broadcast(qtoks))
      .filter($"d_id" =!= $"q_id")
      .select($"q_id", $"q_slot", $"d_id",
        Similarity.dotInt8($"q", $"qq").as("dp"))
    val best = pair.groupBy($"q_id", $"q_slot", $"d_id")
      .agg(max($"dp").as("m"))
    val scored = best.groupBy($"q_id", $"d_id")
      .agg(sum($"m").cast("long").as("maxsim"))
    Relational.topKPerGroup(scored, Seq(col("q_id")),
        Seq(col("maxsim").desc, col("d_id").asc), 5, rankCol = "rank")
      .select($"q_id", $"rank", $"d_id", $"maxsim")
      .orderBy($"q_id", $"rank")
  }

  // q410: THE RETRAIN LOOP (r13) — closes the frozen-quantizer
  // lifecycle whose halves rounds 11-12 proved separately: q391/q397
  // keep the index CORRECT under frozen centroids, q403 MEASURES the
  // drift that silently decays recall; this face wires monitor →
  // retrain → rebuild → resumed maintenance into one operating system.
  // The loop: (1) v1 trains centroids, persisted as a VERSIONED sidecar
  // artifact (cv=1) next to the index — versioning is what lets
  // maintenance resume from the right quantizer after a retrain;
  // (2) a same-distribution ingest maintains incrementally and the PSI
  // monitor stays under the 0.2 retrain threshold (require-pinned: the
  // trigger must NOT fire on routine ingest — spurious retrains are
  // O(corpus) rebuilds); (3) a drifted ingest (a hotspot batch — new
  // content collapsing into one region, the shape a new domain flooding
  // ingest produces) pushes PSI past the threshold (require-pinned: the
  // trigger FIRES); (4) centroids RE-TRAIN on the current snapshot,
  // persist as cv=2, and the index rebuilds under them — the rebuild IS
  // the recall reset the frozen contract defers; (5) maintenance
  // RESUMES from the re-trained artifact read back from disk (not a
  // driver variable): one more ingest self-assigns against cv=2 and a
  // GDPR erasure tombstones through the same feed, require-pinned
  // identical to a from-scratch re-assign of the final snapshot (both
  // exceptAll directions). The oracle recomputes the WHOLE loop's end
  // state — retrain-corpus k-means, final live set, cv=2 assignment —
  // so a drifted centroid, a stale quantizer version, a missed insert,
  // or a surviving tombstone all move the hash. At 100 TB: the monitor
  // is one k-row aggregate per audit on counts maintenance already
  // computes; the retrain is a scheduled O(corpus) pass the PSI gate
  // makes DELIBERATE instead of per-commit; maintenance stays
  // O(|delta|·k) map-side against broadcast centroids.
  def annRetrainLoop(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val kCoarse = 8
    val Thresh = 0.2 // the standard PSI "significant shift" bar
    val out = Scratch.dir("q410", dir)
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
      .select($"vec_id", $"embedding")
    val embT = emb.schema("embedding").dataType
    def quant(df: DataFrame): DataFrame = annQuant(s, df)
    def assign(q: DataFrame, ckm: Seq[(Int, Seq[Int])]): DataFrame =
      q.select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"q")
    // centroids persist as a VERSIONED artifact next to the index — the
    // quantizer is index state, not driver state; a restarted maintainer
    // must find the version the index was last built under
    def writeCentroids(cv: Int, ckm: Seq[(Int, Seq[Int])]): Unit =
      ckm.toDF("j", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/_index/centroids_v$cv")
    def readCentroids(cv: Int): Seq[(Int, Seq[Int])] =
      s.read.parquet(s"$out/_index/centroids_v$cv").collect()
        .map(r => r.getInt(0) -> r.getSeq[Int](1)).sortBy(_._1).toSeq
    def cellShares(idx: DataFrame): Map[Int, Long] =
      idx.groupBy($"kcell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // q403's PSI over the index's own routing, on driver-side k-row maps
    // (empty-on-either-side cells contribute nothing, never ±inf)
    def psiOf(a: Map[Int, Long], b: Map[Int, Long]): Double = {
      val (ta, tb) = (a.values.sum.toDouble, b.values.sum.toDouble)
      (a.keySet ++ b.keySet).iterator.map { k =>
        val pa = a.getOrElse(k, 0L) / ta; val pb = b.getOrElse(k, 0L) / tb
        if (pa > 0 && pb > 0) (pa - pb) * math.log(pa / pb) else 0.0
      }.sum
    }
    def shouldRetrain(psi: Double): Boolean = psi >= Thresh
    // ---- (1) v1: train, persist cv=1, build the index
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8), out,
      append = false, sized = true) // v1
    val v1q = quant(ManifestTable.read(s, out, 1)).localCheckpoint()
    val ckm1 = annTrainCentroids(s, v1q, kCoarse)
    writeCentroids(1, ckm1)
    var idx = assign(v1q, ckm1).localCheckpoint()
    val trainShares = cellShares(idx)
    // ---- (2) routine ingest: incremental maintenance, monitor quiet
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 8), out,
      append = true, sized = true) // v2
    val ins2 = ManifestTable.changeFeed(s, out, 1, 2)
      .filter($"_change_type" === "insert").select($"vec_id", $"embedding")
    idx = idx.unionByName(assign(quant(ins2), ckm1)).localCheckpoint()
    val psi2 = psiOf(trainShares, cellShares(idx))
    require(!shouldRetrain(psi2),
      f"q410: the monitor must stay quiet on same-distribution ingest (PSI $psi2%.4f >= $Thresh)")
    // ---- (3) drifted ingest: a hotspot batch — every vector identical
    // (a brand-new content region), routed by the SAME frozen quantizer
    val drift = emb.filter($"vec_id" % 10 < 8)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding".cast("array<double>"), _ => lit(1.0))
          .cast(embT).as("embedding"))
    ManifestTable.commit(drift, out, append = true, sized = true)              // v3
    val ins3 = ManifestTable.changeFeed(s, out, 2, 3)
      .filter($"_change_type" === "insert").select($"vec_id", $"embedding")
    idx = idx.unionByName(assign(quant(ins3), ckm1)).localCheckpoint()
    val psi3 = psiOf(trainShares, cellShares(idx))
    require(shouldRetrain(psi3),
      f"q410: the drifted batch must trip the retrain trigger (PSI $psi3%.4f < $Thresh)")
    // ---- (4) RETRAIN on the current snapshot; rebuild under cv=2
    val retrainV = ManifestTable.currentVersion(out)
    val rq = quant(ManifestTable.read(s, out, retrainV)).localCheckpoint()
    writeCentroids(2, annTrainCentroids(s, rq, kCoarse))
    // maintenance resumes from the PERSISTED artifact, never the driver
    // variable — the versioned sidecar is the handoff between the
    // scheduled retrainer and the always-on maintainer
    val ckm2 = readCentroids(2)
    require(ckm2 != readCentroids(1),
      "q410: the retrain must actually move the centroids (the drifted " +
        "corpus changed the Lloyd update's inputs)")
    idx = assign(rq, ckm2).localCheckpoint()
    // ---- (5) maintenance RESUMES under cv=2: ingest + GDPR erasure
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 9), out,
      append = true, sized = true) // v4
    ManifestTable.delete(
      emb.filter($"vec_id" % 17 === 0).select($"vec_id"), out, "vec_id", sized = true)       // v5
    val feed = ManifestTable.changeFeed(s, out, retrainV).localCheckpoint()
    val ins5 = feed.filter($"_change_type" === "insert")
      .select($"vec_id", $"embedding")
    val tomb = feed.filter($"_change_type" === "delete")
      .select($"vec_id").distinct()
    idx = idx.unionByName(assign(quant(ins5), ckm2))
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    // the identity pin: post-retrain maintenance ≡ from-scratch rebuild
    // of the final snapshot under the same re-trained centroids
    val rebuilt = assign(quant(
      ManifestTable.read(s, out, ManifestTable.currentVersion(out))), ckm2)
    require(Relational.bagDiff(idx, rebuilt).isEmpty,
      "q410: resumed maintenance must equal the cv=2 from-scratch rebuild")
    idx.groupBy($"kcell".cast("long").as("kcell"))
      .agg(count(lit(1)).as("n_vectors"), sum($"vec_id").as("sum_ids"),
        min($"vec_id").as("min_id"), max($"vec_id").as("max_id"))
      .select(lit(2).as("cv"), $"kcell", $"n_vectors", $"sum_ids",
        $"min_id", $"max_id")
      .orderBy($"kcell")
  }

  // q420: THE RETRAIN LOOP ON THE STREAMING PATH (r14) — q410 closes
  // monitor → retrain → rebuild → resumed maintenance as a BATCH
  // choreography; q397 maintains the index from the table-as-stream
  // under frozen centroids. This face composes them: the foreachBatch
  // maintainer resolves the quantizer from the VERSIONED SIDECAR ON
  // EVERY TRIGGER (never a closure-captured driver variable), the PSI
  // monitor rides each batch on the counts maintenance already
  // computes, and when the drifted batch trips the 0.2 bar the retrain
  // lands BETWEEN TRIGGERS — cv=2 centroids + an index rebuilt at
  // exactly the stream's delivered version — so the NEXT trigger
  // self-assigns under cv=2 with zero duplicated and zero lost rows.
  // Require-pinned: the per-batch artifact log must read (batch0→cv1
  // quiet, batch1→cv1 trips, batch2→cv2) — a per-job quantizer
  // resolution (the natural bug: read the sidecar once at stream start)
  // leaves batch2 on cv1 and fails the log pin, and any drift in the
  // rebuild-at-boundary handoff breaks the final identity: the finished
  // index (plus the post-stream GDPR tombstones) must equal the
  // from-scratch cv=2 rebuild of the final snapshot, both exceptAll
  // directions. End state ≡ q410's loop, so the oracle recomputes the
  // same retrain-corpus k-means + final live assignment from scratch.
  // At 100 TB: the sidecar listing is one O(1) directory read per
  // trigger — the price of a maintainer that never needs restarting
  // when the scheduled retrainer publishes a new quantizer.
  def streamRetrainLoop(s: SparkSession, dir: String): DataFrame =
    graft.streaming.ScratchCheckpoints.lean(s) {
    import s.implicits._
    import graft.sources.ManifestTable
    val kCoarse = 8
    val Thresh = 0.2
    val out = Scratch.dir("q420", dir)
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
      .select($"vec_id", $"embedding")
    val embT = emb.schema("embedding").dataType
    def quant(df: DataFrame): DataFrame = annQuant(s, df)
    def writeCentroids(cv: Int, ckm: Seq[(Int, Seq[Int])]): Unit =
      ckm.toDF("j", "c").coalesce(1)
        .write.mode("overwrite").parquet(s"$out/_index/centroids_v$cv")
    def readCentroids(cv: Int): Seq[(Int, Seq[Int])] =
      s.read.parquet(s"$out/_index/centroids_v$cv").collect()
        .map(r => r.getInt(0) -> r.getSeq[Int](1)).sortBy(_._1).toSeq
    // the maintainer's handshake with the retrainer: the LATEST
    // centroid version is whatever the sidecar directory holds NOW
    def latestCv(): Int =
      Option(new java.io.File(s"$out/_index").listFiles()).toSeq.flatten
        .map(_.getName).filter(_.matches("centroids_v\\d+"))
        .map(_.stripPrefix("centroids_v").toInt).max
    def cellShares(idx: DataFrame): Map[Int, Long] =
      idx.groupBy($"kcell").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    def psiOf(a: Map[Int, Long], b: Map[Int, Long]): Double = {
      val (ta, tb) = (a.values.sum.toDouble, b.values.sum.toDouble)
      (a.keySet ++ b.keySet).iterator.map { k =>
        val pa = a.getOrElse(k, 0L) / ta; val pb = b.getOrElse(k, 0L) / tb
        if (pa > 0 && pb > 0) (pa - pb) * math.log(pa / pb) else 0.0
      }.sum
    }
    val tbl = s"$out/tbl"
    // v1: init, train cv=1, build index_cv1
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8), tbl,
      append = false, sized = true)
    val tblSchema = ManifestTable.read(s, tbl, 1).schema
    val v1q = quant(ManifestTable.read(s, tbl, 1)).localCheckpoint()
    val ckm1 = annTrainCentroids(s, v1q, kCoarse)
    writeCentroids(1, ckm1)
    v1q.select($"vec_id", pqArgminCode($"q", ckm1).as("kcell"))
      .write.mode("overwrite").parquet(s"$out/index_cv1")
    val trainShares = cellShares(s.read.parquet(s"$out/index_cv1"))
    // three versions pend: routine ingest, the DRIFT batch, more ingest
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 8), tbl,
      append = true, sized = true)                                      // v2
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8)
      .select(($"vec_id" + 1000000L).as("vec_id"),
        transform($"embedding".cast("array<double>"), _ => lit(1.0))
          .cast(embT).as("embedding")), tbl, append = true,
      sized = true)                                                     // v3 drift
    ManifestTable.commit(emb.filter($"vec_id" % 10 === 9), tbl,
      append = true, sized = true)                                      // v4
    val applied = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    val psis = scala.collection.mutable.ArrayBuffer[Double]()
    val retrained = new java.util.concurrent.atomic.AtomicBoolean(false)
    val q = s.readStream.format("graft.sources.v2.ManifestStreamSource")
      .schema(tblSchema).option("path", tbl).option("startVersion", "1").load()
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val cv = latestCv() // EVERY trigger re-resolves the artifact
        val ckm = readCentroids(cv)
        annQuant(s, batch)
          .select(col("vec_id"), pqArgminCode(col("q"), ckm).as("kcell"))
          .write.mode("append").parquet(s"$out/index_cv$cv")
        applied += ((id, cv))
        // the monitor rides the batch: PSI of the maintained routing vs
        // the train-time shares — one k-row aggregate
        val psi = psiOf(trainShares,
          cellShares(s.read.parquet(s"$out/index_cv$cv")))
        psis += psi
        if (psi >= Thresh && retrained.compareAndSet(false, true)) {
          // RETRAIN between triggers, at exactly the delivered version
          // (startVersion 1 + batches 0..id → v(2+id)): cv=2 sidecar +
          // index rebuilt at that boundary — the next trigger's batch
          // is precisely the first version the rebuild does NOT cover
          val rv = 2 + id.toInt
          val rq = quant(ManifestTable.read(s, tbl, rv))
          writeCentroids(2, annTrainCentroids(s, rq, kCoarse))
          val ckm2 = readCentroids(2)
          rq.select(col("vec_id"), pqArgminCode(col("q"), ckm2).as("kcell"))
            .write.mode("overwrite").parquet(s"$out/index_cv2")
        }
      }
      .option("checkpointLocation", s"$out/_cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    require(applied.toSeq == Seq((0L, 1), (1L, 1), (2L, 2)),
      s"q420: the maintainer must pick the retrained artifact up at the " +
        s"NEXT trigger (per-batch sidecar read, not per-job): $applied")
    require(psis.head < Thresh,
      f"q420: the monitor must stay quiet on routine ingest (PSI ${psis.head}%.4f)")
    require(psis(1) >= Thresh,
      f"q420: the drifted batch must trip the retrain (PSI ${psis(1)}%.4f)")
    // the compliance path stays post-stream (q397's shape): tombstone
    // the GDPR erasure out of the cv=2 artifact
    ManifestTable.delete(
      emb.filter($"vec_id" % 17 === 0).select($"vec_id"), tbl, "vec_id", sized = true) // v5
    val tomb = ManifestTable.changeFeed(s, tbl, 4)
      .filter($"_change_type" === "delete").select($"vec_id").distinct()
    val ckm2 = readCentroids(2)
    val live = s.read.parquet(s"$out/index_cv2")
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    val rebuilt = quant(
        ManifestTable.read(s, tbl, ManifestTable.currentVersion(tbl)))
      .select($"vec_id", pqArgminCode($"q", ckm2).as("kcell"))
    require(Relational.bagDiff(live, rebuilt).isEmpty,
      "q420: the stream-maintained index across the retrain boundary " +
        "must equal the cv=2 from-scratch rebuild")
    live.groupBy($"kcell".cast("long").as("kcell"))
      .agg(count(lit(1)).as("n_vectors"), sum($"vec_id").as("sum_ids"),
        min($"vec_id").as("min_id"), max($"vec_id").as("max_id"))
      .select(lit(2).as("cv"), $"kcell", $"n_vectors", $"sum_ids",
        $"min_id", $"max_id")
      .orderBy($"kcell")
  }

  // q411: MAXSIM SERVED FROM THE MAINTAINED INDEX (r13) — q408 scores
  // late-interaction against the exact corpus; production serves it
  // from the q391 feed-maintained IVF artifact: candidates come
  // CELL-PRUNED (each query token probes its top-2 cells, candidate
  // docs = docs with ≥1 token in a probed cell), then the rerank runs
  // the full maxsim ONLY over candidate docs' complete token bags —
  // the small-to-big shape (find by fragment, score the whole bag)
  // with the index supplying both stages: routing for stage 1, the
  // quantized codes for stage 2 (no float re-read). The index is
  // REALLY maintained here, not rebuilt: one change-feed read across
  // an ingest append + a GDPR erasure drives insert self-assignment
  // (O(|delta|·k) vs broadcast frozen centroids) and tombstoning (one
  // anti join), identity require-pinned against the from-scratch
  // rebuild. The production path is recall-pinned against the exact
  // maxsim over the same live corpus (the gate output, oracle-
  // recomputed bit-for-bit: integer dots of the shifted codes, max per
  // (query token, doc), sum per (query, doc)). At 100 TB: the probe is
  // an index join on kcell, candidates/query are |probed cells ∩
  // corpus|, the rerank's token-pair volume is |candidate tokens| ×
  // |query tokens| — never corpus × corpus; queries broadcast.
  def maxsimOverIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.ManifestTable
    val out = Scratch.dir("q411", dir)
    val emb = Relational.spread(Tables(s, dir).embeddings, $"vec_id")
      .select($"vec_id", $"embedding")
    def assign(q: DataFrame, ckm: Seq[(Int, Seq[Int])]): DataFrame =
      q.select($"vec_id", pqArgminCode($"q", ckm).as("kcell"), $"q")
    ManifestTable.commit(emb.filter($"vec_id" % 10 < 8), out,
      append = false, sized = true) // v1
    val v1q = annQuant(s, ManifestTable.read(s, out, 1)).localCheckpoint()
    val ckm = annTrainCentroids(s, v1q)
    ManifestTable.commit(emb.filter($"vec_id" % 10 >= 8), out,
      append = true, sized = true) // v2
    ManifestTable.delete(
      emb.filter($"vec_id" % 23 === 0).select($"vec_id"), out, "vec_id",
      sized = true)                                                           // v3
    val feed = ManifestTable.changeFeed(s, out, 1).localCheckpoint()
    val ins = feed.filter($"_change_type" === "insert")
      .select($"vec_id", $"embedding")
    val tomb = feed.filter($"_change_type" === "delete")
      .select($"vec_id").distinct()
    val idx = assign(v1q, ckm)
      .unionByName(assign(annQuant(s, ins), ckm))
      .join(tomb, Seq("vec_id"), "left_anti").localCheckpoint()
    val rebuilt = assign(annQuant(s, ManifestTable.read(s, out)), ckm)
    require(Relational.bagDiff(idx, rebuilt).isEmpty,
      "q411: the feed-maintained index must equal the from-scratch rebuild")
    // token-bag view OVER THE INDEX (vec_id/4 = doc, vec_id%4 = slot)
    val toks = idx.select(($"vec_id" / 4).cast("long").as("d_id"),
      ($"vec_id" % 4).as("slot"), $"kcell", $"q").localCheckpoint()
    val qtoks = toks.filter($"d_id" < 2)
      .select($"d_id".as("q_id"), $"slot".as("q_slot"), $"q".as("qq"))
      .localCheckpoint()
    def maxsimTop(pair: DataFrame): DataFrame = {
      val best = pair.groupBy($"q_id", $"q_slot", $"d_id")
        .agg(max($"dp").as("m"))
      val scored = best.groupBy($"q_id", $"d_id")
        .agg(sum($"m").cast("long").as("maxsim"))
      Relational.topKPerGroup(scored, Seq(col("q_id")),
        Seq(col("maxsim").desc, col("d_id").asc), 5, rankCol = "rank")
    }
    // exact maxsim over the live corpus — the gate output
    val exact = maxsimTop(
        toks.crossJoin(broadcast(qtoks)).filter($"d_id" =!= $"q_id")
          .select($"q_id", $"q_slot", $"d_id",
            Similarity.dotInt8($"q", $"qq").as("dp")))
      .select($"q_id", $"rank", $"d_id", $"maxsim").localCheckpoint()
    // production: stage 1 — each query token probes its top-2 cells;
    // candidate docs = any token lands in a probed cell
    val qCells = qtoks
      .select($"q_id", posexplode(pqTop2Cells($"qq", ckm)).as(Seq("_p", "kcell")))
      .select($"q_id", $"kcell").distinct()
    val candDocs = toks.join(broadcast(qCells), Seq("kcell"))
      .filter($"d_id" =!= $"q_id")
      .select($"q_id", $"d_id").distinct().localCheckpoint()
    // stage 2 — rerank the candidates' FULL token bags (small-to-big)
    val prod = maxsimTop(
        toks.join(broadcast(candDocs), Seq("d_id"))
          .join(broadcast(qtoks), Seq("q_id"))
          .select($"q_id", $"q_slot", $"d_id",
            Similarity.dotInt8($"q", $"qq").as("dp")))
      .select($"q_id", $"d_id")
    val hits = prod.join(exact.select($"q_id", $"d_id"),
      Seq("q_id", "d_id"), "left_semi").count()
    require(hits >= 7,
      s"q411: index-served maxsim recall collapsed ($hits of 10 truth slots)")
    exact.orderBy($"q_id", $"rank")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q411_maxsim_index" -> maxsimOverIndex _,
    "q420_stream_retrain" -> streamRetrainLoop _,
    "q410_ann_retrain" -> annRetrainLoop _,
    "q408_maxsim_retrieval" -> maxsimRetrieval _,
    "q406_filtered_ann" -> filteredAnn _,
    "q403_index_drift" -> indexDrift _,
    "q397_stream_ann_ingest" -> streamAnnIngest _,
    "q396_retrieval_metrics" -> retrievalMetrics _,
    "q391_cdf_ann_index" -> cdfAnnIndex _,
    "q389_context_pack" -> contextPack _,
    "q388_mmr_diversify" -> mmrDiversify _,
    "q386_rrf_hybrid" -> rrfHybridFusion _,
    "q335_vector_sql" -> vectorSql _,
    "q346_ivfpq_residual" -> ivfPqResidual _,
    "q351_binary_sign_ann" -> binarySignAnn _,
    "q328_ivf_multiprobe" -> ivfMultiprobe _,
    "q317_ivfpq" -> ivfPq _,
    "q314_ann_rank_eval" -> annRankEval _,
    "q308_dim_stats" -> dimStats _,
    "q258_pq_knn" -> pqAdc _,
    "q246_ivf_balance" -> ivfBalance _,
    "q195_norm_screen" -> normScreen _,
    "q196_sim_histogram" -> simHistogram _,
    "q197_dot_expr_sql" -> dotExprSql _,
    "q40_knn_brute" -> knnBrute _,
    "q121_label_centroid_sim" -> labelCentroidSim _,
    "q41_knn_ivf" -> knnIvf _,
    "q34_embedding_neardup" -> nearDupTopPairs _,
    "q69_lsh_neardup" -> lshNearDup _,
    "q86_knn_quantized" -> knnQuantized _,
    "q91_kmeans_train" -> kmeansTrain _,
    "q99_semantic_dedup" -> semanticDedupFace _
  )

  /** One greedy MMR step as oracle CTEs: score the not-yet-picked
    * candidates against the selected set `sel<i-1>`, pick the argmax
    * (score DESC, c_id ASC), extend the set. The 5 steps unroll because
    * the greedy recurrence has no closed SQL form — this IS the
    * definition, stage by stage. */
  private def mmrStage(i: Int): String = {
    val p = i - 1
    s"""score$i AS (SELECT c.q_id, c.c_id,
       |    CAST(0.7 AS DOUBLE)*c.rel - CAST(0.3 AS DOUBLE)*pn.pen AS mmr
       |  FROM cand c
       |  JOIN (SELECT s.q_id, s.x AS c_id, max(s.sim) AS pen FROM sims s
       |        JOIN sel$p z ON z.q_id = s.q_id AND z.c_id = s.y GROUP BY 1, 2) pn
       |    ON pn.q_id = c.q_id AND pn.c_id = c.c_id
       |  WHERE NOT EXISTS (SELECT 1 FROM sel$p z
       |                    WHERE z.q_id = c.q_id AND z.c_id = c.c_id)),
       |pick$i AS (SELECT q_id, c_id, mmr, $i AS rank FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY mmr DESC, c_id ASC) rn
       |  FROM score$i) t WHERE rn = 1),
       |sel$i AS (SELECT q_id, c_id FROM sel$p UNION ALL SELECT q_id, c_id FROM pick$i)""".stripMargin
  }

  private val ndcgWCase: String =
    (1 to 10).map(i => s"WHEN $i THEN ${NdcgW(i - 1)}").mkString(" ")

  val oracles: Map[String, String] = Map(
    // q410: the oracle recomputes the retrain loop's END STATE from the
    // raw parquet: the retrain corpus (v1 + routine ingest + the hotspot
    // drift batch), its seeded k-means with one integer-rounded Lloyd
    // update (= the cv=2 centroids), the FINAL live set (all original
    // ingests minus the vec_id % 17 = 0 erasure, plus the never-deleted
    // drift rows), cv=2 assignment, per-cell rollup — so a stale
    // quantizer version, a drifted centroid, a missed insert, or a
    // surviving tombstone all move the hash. The drift rows quantize to
    // the constant round(127/sqrt(dim)) + 127 vector (all-ones input).
    // q420: the streaming composition reproduces EXACTLY q410's end
    // state (same corpus, same drift batch, same retrain boundary, same
    // erasure) — the oracle is shared: the k-means + final-assignment
    // recompute below
    "q420_stream_retrain" -> retrainLoopOracle,
    "q410_ann_retrain" -> retrainLoopOracle,
  ) ++ oracles2

  // the retrain loop's end state recomputed from scratch: int8
  // quantization, the drift batch's closed-form codes, the retrain
  // corpus (v1+v2+drift) k-means — seeded on vec_id < 8, one Lloyd
  // step with (2·s+n)/(2·n) rounding, empty cells keeping their seed —
  // then the final live set's assignment and per-cell rollup
  private lazy val retrainLoopOracle: String =
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |dq AS (SELECT vec_id + 1000000 AS vec_id, list_transform(v,
        |    x -> CAST(round(1.0 / sqrt(CAST(len(v) AS DOUBLE)) * 127) AS INT) + 127) AS q
        |  FROM e WHERE vec_id % 10 < 8),
        |rc AS (SELECT vec_id, q FROM qt WHERE vec_id % 10 < 9
        |  UNION ALL SELECT vec_id, q FROM dq),
        |ks AS (SELECT vec_id AS j, q AS c FROM rc WHERE vec_id < 8),
        |kd0 AS (SELECT rc.vec_id, ks.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(rc.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(rc.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM rc, ks),
        |ka0 AS (SELECT vec_id, j AS a0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM kd0)
        |  WHERE rn = 1),
        |ksums AS (SELECT ka0.a0, t.i,
        |    CAST(sum(rc.q[CAST(t.i AS INT)]) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ka0 JOIN rc USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |ckmu AS (SELECT a0 AS j, list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM ksums GROUP BY 1),
        |ckm AS (SELECT ks.j, coalesce(ckmu.c, ks.c) AS c
        |  FROM ks LEFT JOIN ckmu ON ks.j = ckmu.j),
        |live AS (SELECT vec_id, q FROM qt WHERE vec_id % 17 <> 0
        |  UNION ALL SELECT vec_id, q FROM dq),
        |cd AS (SELECT live.vec_id, ckm.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM live, ckm),
        |cell AS (SELECT vec_id, j AS kcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM cd)
        |  WHERE rn = 1)
        |SELECT CAST(2 AS INT) AS cv, CAST(kcell AS BIGINT) AS kcell,
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        |  CAST(min(vec_id) AS BIGINT) AS min_id,
        |  CAST(max(vec_id) AS BIGINT) AS max_id
        |FROM cell GROUP BY 2 ORDER BY kcell""".stripMargin

  private lazy val oracles2: Map[String, String] = Map(
    // q411: q408's maxsim recompute over the LIVE corpus (the GDPR
    // erasure applied) — the cell-probe production path is a require-pin
    // in the face, the exact answer is the hash
    "q411_maxsim_index" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e WHERE vec_id % 23 <> 0),
        |tk AS (SELECT vec_id // 4 AS d_id, vec_id % 4 AS slot, q FROM qt),
        |qs AS (SELECT d_id AS q_id, slot AS q_slot, q AS qq FROM tk
        |  WHERE d_id < 2),
        |pair AS (SELECT q_id, q_slot, tk.d_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(tk.q[CAST(i AS INT)] AS BIGINT)
        |         * CAST(qs.qq[CAST(i AS INT)] AS BIGINT))) AS BIGINT) AS dp
        |  FROM tk, qs WHERE tk.d_id <> q_id),
        |best AS (SELECT q_id, q_slot, d_id, max(dp) AS m
        |  FROM pair GROUP BY 1, 2, 3),
        |sc AS (SELECT q_id, d_id, CAST(sum(m) AS BIGINT) AS maxsim
        |  FROM best GROUP BY 1, 2)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(row_number() OVER
        |    (PARTITION BY q_id ORDER BY maxsim DESC, d_id) AS INT) AS rank,
        |  CAST(d_id AS BIGINT) AS d_id, maxsim
        |FROM sc QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // q408: the maxsim recompute — same quantization, integer dots,
    // max per (query, query-token, doc), sum per (query, doc), rank
    "q408_maxsim_retrieval" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |tk AS (SELECT vec_id // 4 AS d_id, vec_id % 4 AS slot, q FROM qt),
        |qs AS (SELECT d_id AS q_id, slot AS q_slot, q AS qq FROM tk
        |  WHERE d_id < 2),
        |pair AS (SELECT q_id, q_slot, tk.d_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(tk.q[CAST(i AS INT)] AS BIGINT)
        |         * CAST(qs.qq[CAST(i AS INT)] AS BIGINT))) AS BIGINT) AS dp
        |  FROM tk, qs WHERE tk.d_id <> q_id),
        |best AS (SELECT q_id, q_slot, d_id, max(dp) AS m
        |  FROM pair GROUP BY 1, 2, 3),
        |sc AS (SELECT q_id, d_id, CAST(sum(m) AS BIGINT) AS maxsim
        |  FROM best GROUP BY 1, 2)
        |SELECT CAST(q_id AS BIGINT) AS q_id, CAST(row_number() OVER
        |    (PARTITION BY q_id ORDER BY maxsim DESC, d_id) AS INT) AS rank,
        |  CAST(d_id AS BIGINT) AS d_id, maxsim
        |FROM sc QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // q406: the exact filtered top-k recomputed — int8(+127) quantize,
    // 25% metadata filter, integer L2, rank (the post-filter and
    // cell-probe contrasts are require-pins in the face, not hashed)
    "q406_filtered_ann" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |qs AS (SELECT vec_id AS q_id, q AS qq FROM qt WHERE vec_id < 5),
        |f AS (SELECT vec_id AS c_id, q FROM qt WHERE vec_id % 4 = 1),
        |cand AS (SELECT q_id, c_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(f.q[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(f.q[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM f, qs WHERE c_id <> q_id)
        |SELECT q_id, CAST(row_number() OVER
        |    (PARTITION BY q_id ORDER BY d, c_id) AS INT) AS rank,
        |  c_id, d
        |FROM cand QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,
    // q403: q397's quantize+train CTEs, then frozen-centroid assignment
    // of the WHOLE corpus and the q223 PSI algebra over cell shares
    "q403_index_drift" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |v1 AS (SELECT vec_id, q FROM qt WHERE vec_id % 10 < 8),
        |ks AS (SELECT vec_id AS j, q AS c FROM v1 WHERE vec_id < 8),
        |kd0 AS (SELECT v1.vec_id, ks.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM v1, ks),
        |ka0 AS (SELECT vec_id, j AS a0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM kd0)
        |  WHERE rn = 1),
        |ksums AS (SELECT ka0.a0, t.i,
        |    CAST(sum(v1.q[CAST(t.i AS INT)]) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ka0 JOIN v1 USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |ckmu AS (SELECT a0 AS j, list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM ksums GROUP BY 1),
        |ckm AS (SELECT ks.j, coalesce(ckmu.c, ks.c) AS c
        |  FROM ks LEFT JOIN ckmu ON ks.j = ckmu.j),
        |cd AS (SELECT qt.vec_id, ckm.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qt.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qt.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM qt, ckm),
        |cell AS (SELECT vec_id, j AS kcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM cd)
        |  WHERE rn = 1),
        |b AS (SELECT CAST(kcell AS BIGINT) AS kcell,
        |    sum(CASE WHEN vec_id % 10 < 8 THEN 1 ELSE 0 END) AS nt_raw,
        |    count(*) AS nn_raw
        |  FROM cell GROUP BY 1),
        |p AS (SELECT kcell, CAST(nt_raw AS BIGINT) AS n_train,
        |    CAST(nn_raw AS BIGINT) AS n_now,
        |    CAST(nt_raw AS DOUBLE) / sum(nt_raw) OVER () AS pa_r,
        |    CAST(nn_raw AS DOUBLE) / sum(nn_raw) OVER () AS pb_r FROM b),
        |c AS (SELECT *, CASE WHEN n_train > 0 AND n_now > 0
        |    THEN (pa_r - pb_r) * ln(pa_r / pb_r) END AS c_r FROM p)
        |SELECT kcell, n_train, n_now, round(pa_r, 6) AS p_train,
        |  round(pb_r, 6) AS p_now, round(c_r, 6) AS contrib,
        |  round(sum(c_r) OVER (), 6) AS psi
        |FROM c ORDER BY kcell""".stripMargin,
    // q396: the full q386 fusion pipeline re-derived, then the metric
    // legs — integer gains × the SAME inlined integer weights, exact
    // long sums, one final division (see the face's float contract)
    "q396_retrieval_metrics" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |    FROM documents) t WHERE w <> ''),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS i
         |  FROM tok q JOIN tok c ON q.w = c.w AND c.doc_id <> q.doc_id
         |  WHERE q.doc_id < 5 GROUP BY 1, 2),
         |lex AS (
         |  SELECT q_id, c_id, CAST(i AS DOUBLE) / (sq.n + sc.n - i) AS jac
         |  FROM inter JOIN sz sq ON sq.doc_id = inter.q_id
         |             JOIN sz sc ON sc.doc_id = inter.c_id),
         |lexr AS (SELECT q_id, c_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY jac DESC, c_id ASC) AS r_lex FROM lex),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |den AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("qv", "v")} AS sim
         |  FROM qe JOIN e ON e.vec_id <> q_id),
         |denr AS (SELECT q_id, c_id, sim, row_number() OVER
         |    (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r_den FROM den),
         |fused AS (
         |  SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         |    COALESCE(l.c_id, d.c_id) AS c_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.r_lex), 0) +
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + d.r_den), 0) AS rrf
         |  FROM (SELECT * FROM lexr WHERE r_lex <= 50) l
         |  FULL JOIN (SELECT q_id, c_id, r_den FROM denr WHERE r_den <= 50) d
         |    ON l.q_id = d.q_id AND l.c_id = d.c_id),
         |ranked AS (SELECT q_id, c_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY rrf DESC, c_id ASC) AS rank FROM fused),
         |top AS (SELECT q_id, c_id, rank FROM ranked WHERE rank <= 10),
         |dcg AS (SELECT t.q_id, CAST(sum(
         |    COALESCE(greatest(CAST(round(d.sim * 1000000) AS BIGINT), 0), 0)
         |    * (CASE t.rank $ndcgWCase END)) AS BIGINT) AS dcg
         |  FROM top t LEFT JOIN den d ON d.q_id = t.q_id AND d.c_id = t.c_id
         |  GROUP BY 1),
         |idcg AS (SELECT q_id, CAST(sum(
         |    greatest(CAST(round(sim * 1000000) AS BIGINT), 0)
         |    * (CASE r_den $ndcgWCase END)) AS BIGINT) AS idcg
         |  FROM denr WHERE r_den <= 10 GROUP BY 1),
         |hits AS (SELECT t.q_id, CAST(count(*) AS BIGINT) AS n_rel,
         |    min(t.rank) AS first_rel
         |  FROM top t JOIN denr r
         |    ON r.q_id = t.q_id AND r.c_id = t.c_id AND r.r_den <= 5
         |  GROUP BY 1)
         |SELECT d.q_id, CAST(COALESCE(h.n_rel, 0) AS BIGINT) AS n_rel_at_10,
         |  COALESCE(CAST(1 AS DOUBLE) / h.first_rel, 0.0) AS rr,
         |  CAST(d.dcg AS DOUBLE) / CAST(i.idcg AS DOUBLE) AS ndcg
         |FROM dcg d JOIN idcg i USING (q_id) LEFT JOIN hits h USING (q_id)
         |ORDER BY d.q_id""".stripMargin,
    // q397: q391's training + assignment recompute, summarized per cell
    // (the stream face outputs index STATE: counts + id checksums)
    "q397_stream_ann_ingest" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |v1 AS (SELECT vec_id, q FROM qt WHERE vec_id % 10 < 8),
        |ks AS (SELECT vec_id AS j, q AS c FROM v1 WHERE vec_id < 8),
        |kd0 AS (SELECT v1.vec_id, ks.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM v1, ks),
        |ka0 AS (SELECT vec_id, j AS a0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM kd0)
        |  WHERE rn = 1),
        |ksums AS (SELECT ka0.a0, t.i,
        |    CAST(sum(v1.q[CAST(t.i AS INT)]) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ka0 JOIN v1 USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |ckmu AS (SELECT a0 AS j, list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM ksums GROUP BY 1),
        |ckm AS (SELECT ks.j, coalesce(ckmu.c, ks.c) AS c
        |  FROM ks LEFT JOIN ckmu ON ks.j = ckmu.j),
        |live AS (SELECT vec_id, q FROM qt WHERE vec_id % 17 <> 0),
        |cd AS (SELECT live.vec_id, ckm.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM live, ckm),
        |cell AS (SELECT vec_id, j AS kcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM cd)
        |  WHERE rn = 1)
        |SELECT CAST(kcell AS BIGINT) AS kcell,
        |  CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(sum(vec_id) AS BIGINT) AS sum_ids,
        |  CAST(min(vec_id) AS BIGINT) AS min_id,
        |  CAST(max(vec_id) AS BIGINT) AS max_id
        |FROM cell GROUP BY 1 ORDER BY kcell""".stripMargin,
    // the oracle recomputes the WHOLE q391 pipeline on the raw parquet:
    // int8(+127) quantization, the v1-only (vec_id % 10 < 8) seeded
    // k-means with one integer-rounded Lloyd update, the FINAL live set
    // (every append minus the vec_id % 17 = 0 erasure), frozen-centroid
    // assignment, cell-probed candidates, integer-exact ranking — so a
    // maintenance bug anywhere (a missed insert, a surviving tombstone, a
    // drifted centroid) moves the hash
    "q391_cdf_ann_index" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |v1 AS (SELECT vec_id, q FROM qt WHERE vec_id % 10 < 8),
        |ks AS (SELECT vec_id AS j, q AS c FROM v1 WHERE vec_id < 8),
        |kd0 AS (SELECT v1.vec_id, ks.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(v1.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM v1, ks),
        |ka0 AS (SELECT vec_id, j AS a0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM kd0)
        |  WHERE rn = 1),
        |ksums AS (SELECT ka0.a0, t.i,
        |    CAST(sum(v1.q[CAST(t.i AS INT)]) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ka0 JOIN v1 USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |ckmu AS (SELECT a0 AS j, list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM ksums GROUP BY 1),
        |ckm AS (SELECT ks.j, coalesce(ckmu.c, ks.c) AS c
        |  FROM ks LEFT JOIN ckmu ON ks.j = ckmu.j),
        |live AS (SELECT vec_id, q FROM qt WHERE vec_id % 17 <> 0),
        |cd AS (SELECT live.vec_id, ckm.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(live.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM live, ckm),
        |cell AS (SELECT vec_id, j AS kcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM cd)
        |  WHERE rn = 1),
        |idx AS (SELECT live.vec_id, cell.kcell, live.q
        |  FROM live JOIN cell USING (vec_id)),
        |qs AS (SELECT vec_id AS q_id, kcell, q AS qq FROM idx WHERE vec_id < 20),
        |cand AS (SELECT q_id, i.vec_id AS c_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i2 -> CAST(i.q[CAST(i2 AS INT)] - qq[CAST(i2 AS INT)] AS DOUBLE)
        |          * CAST(i.q[CAST(i2 AS INT)] - qq[CAST(i2 AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM idx i JOIN qs ON i.kcell = qs.kcell WHERE i.vec_id <> q_id)
        |SELECT q_id, CAST(row_number() OVER
        |    (PARTITION BY q_id ORDER BY d, c_id) AS INT) AS rank,
        |  c_id, d
        |FROM cand QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q389_context_pack" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |rel0 AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("qv", "v")} AS sim
         |  FROM qe JOIN e ON e.vec_id <> q_id),
         |top AS (SELECT q_id, c_id, rank FROM (
         |  SELECT q_id, c_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
         |  FROM rel0) t WHERE rank <= 20),
         |tok AS (SELECT doc_id AS c_id,
         |    CAST(len(list_filter(string_split(lower(text), ' '),
         |      x -> len(x) > 0)) AS BIGINT) AS n_tokens
         |  FROM documents),
         |packed AS (SELECT t.q_id, t.c_id, t.rank, k.n_tokens,
         |    CAST(sum(k.n_tokens) OVER
         |      (PARTITION BY t.q_id ORDER BY t.rank) AS BIGINT) AS cum_tokens
         |  FROM top t JOIN tok k ON k.c_id = t.c_id)
         |SELECT q_id, c_id, CAST(rank AS INT) AS rank, n_tokens, cum_tokens
         |FROM packed WHERE cum_tokens <= 256 ORDER BY q_id, rank""".stripMargin,
    "q388_mmr_diversify" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |rel0 AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("qv", "v")} AS rel,
         |    e.v AS cv
         |  FROM qe JOIN e ON e.vec_id <> q_id),
         |cand AS (SELECT q_id, c_id, rel, cv FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY q_id ORDER BY rel DESC, c_id ASC) rn
         |  FROM rel0) t WHERE rn <= 20),
         |sims AS (SELECT a.q_id, a.c_id AS x, b.c_id AS y,
         |    ${cosSql("a.cv", "b.cv")} AS sim
         |  FROM cand a JOIN cand b ON a.q_id = b.q_id AND a.c_id <> b.c_id),
         |pick1 AS (SELECT q_id, c_id, CAST(0.7 AS DOUBLE) * rel AS mmr,
         |    1 AS rank FROM (
         |  SELECT *, row_number() OVER
         |    (PARTITION BY q_id ORDER BY rel DESC, c_id ASC) rn
         |  FROM cand) t WHERE rn = 1),
         |sel1 AS (SELECT q_id, c_id FROM pick1),
         |${mmrStage(2)},
         |${mmrStage(3)},
         |${mmrStage(4)},
         |${mmrStage(5)}
         |SELECT q_id, c_id, mmr, CAST(rank AS INT) AS rank FROM (
         |  SELECT * FROM pick1 UNION ALL SELECT * FROM pick2
         |  UNION ALL SELECT * FROM pick3 UNION ALL SELECT * FROM pick4
         |  UNION ALL SELECT * FROM pick5) u
         |ORDER BY q_id, rank""".stripMargin,
    "q386_rrf_hybrid" ->
      s"""WITH tok AS (
         |  SELECT DISTINCT doc_id, w FROM (
         |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
         |    FROM documents) t WHERE w <> ''),
         |sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT q.doc_id AS q_id, c.doc_id AS c_id, count(*) AS i
         |  FROM tok q JOIN tok c ON q.w = c.w AND c.doc_id <> q.doc_id
         |  WHERE q.doc_id < 5 GROUP BY 1, 2),
         |lex AS (
         |  SELECT q_id, c_id, CAST(i AS DOUBLE) / (sq.n + sc.n - i) AS jac
         |  FROM inter JOIN sz sq ON sq.doc_id = inter.q_id
         |             JOIN sz sc ON sc.doc_id = inter.c_id),
         |lexr AS (SELECT q_id, c_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY jac DESC, c_id ASC) AS r_lex FROM lex),
         |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qe AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |den AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("qv", "v")} AS sim
         |  FROM qe JOIN e ON e.vec_id <> q_id),
         |denr AS (SELECT q_id, c_id, row_number() OVER
         |    (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS r_den FROM den),
         |fused AS (
         |  SELECT COALESCE(l.q_id, d.q_id) AS q_id,
         |    COALESCE(l.c_id, d.c_id) AS c_id,
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + l.r_lex), 0) +
         |    COALESCE(CAST(1 AS DOUBLE) / (60 + d.r_den), 0) AS rrf
         |  FROM (SELECT * FROM lexr WHERE r_lex <= 50) l
         |  FULL JOIN (SELECT * FROM denr WHERE r_den <= 50) d
         |    ON l.q_id = d.q_id AND l.c_id = d.c_id),
         |ranked AS (SELECT q_id, c_id, rrf, row_number() OVER
         |    (PARTITION BY q_id ORDER BY rrf DESC, c_id ASC) AS rank FROM fused)
         |SELECT q_id, c_id, rrf, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q351_binary_sign_ann" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qz AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
        |  FROM e),
        |pk AS (SELECT vec_id, q,
        |    CAST(list_sum(list_transform(range(0, 32), i -> CASE
        |      WHEN q[CAST(i + 1 AS INT)] > 0 THEN (CAST(1 AS BIGINT) << i)
        |      ELSE 0 END)) AS BIGINT) AS h1,
        |    CAST(list_sum(list_transform(range(0, 32), i -> CASE
        |      WHEN q[CAST(i + 33 AS INT)] > 0 THEN (CAST(1 AS BIGINT) << i)
        |      ELSE 0 END)) AS BIGINT) AS h2
        |  FROM qz),
        |qs AS (SELECT vec_id AS q_id, q AS qq, h1 AS qh1, h2 AS qh2
        |  FROM pk WHERE vec_id < 20),
        |ham AS (SELECT q_id, p.vec_id AS c_id,
        |    CAST(bit_count(xor(p.h1, qh1)) + bit_count(xor(p.h2, qh2)) AS BIGINT) AS hd,
        |    p.q AS cq, qq
        |  FROM pk p, qs WHERE p.vec_id <> q_id),
        |cand AS (SELECT q_id, c_id, hd, cq, qq FROM (SELECT *,
        |    row_number() OVER (PARTITION BY q_id ORDER BY hd, c_id) AS hr
        |  FROM ham) WHERE hr <= 64),
        |rer AS (SELECT q_id, c_id, hd,
        |    CAST(list_sum(list_transform(range(1, 65), i ->
        |      CAST(cq[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE)
        |        * CAST(cq[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE)))
        |      AS BIGINT) AS d
        |  FROM cand)
        |SELECT q_id, CAST(row_number() OVER
        |    (PARTITION BY q_id ORDER BY d, c_id) AS INT) AS rank,
        |  c_id, hd, d
        |FROM rer QUALIFY rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q335_vector_sql" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 30),
        |z AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
        |  FROM e),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> a.q[CAST(i AS INT)] * b.q[CAST(i AS INT)])) AS BIGINT) AS dot_int
        |  FROM z a JOIN z b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, dot_int FROM p
        |ORDER BY dot_int DESC, id_a, id_b LIMIT 25""".stripMargin,
    "q328_ivf_multiprobe" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_transform(embedding, x -> abs(x)) AS la FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
        |  FROM e),
        |cl AS (SELECT e.vec_id, qt.q,
        |    list_position(la, list_aggregate(la, 'max')) AS c1i,
        |    v[list_position(la, list_aggregate(la, 'max'))] > 0 AS c1s,
        |    list_transform(range(1, len(la) + 1), j -> CASE
        |      WHEN j = list_position(la, list_aggregate(la, 'max'))
        |      THEN -1.0 ELSE la[CAST(j AS INT)] END) AS lm
        |  FROM e JOIN qt USING (vec_id)),
        |c2 AS (SELECT vec_id, q, c1i, c1s,
        |    list_position(lm, list_aggregate(lm, 'max')) AS c2i
        |  FROM cl),
        |cells AS (SELECT c2.vec_id, c2.q, c1i, c1s, c2i,
        |    e.v[CAST(c2i AS INT)] > 0 AS c2s
        |  FROM c2 JOIN e ON e.vec_id = c2.vec_id),
        |qs AS (SELECT vec_id AS q_id, q AS qq, c1i AS qc1i, c1s AS qc1s,
        |    c2i AS qc2i, c2s AS qc2s FROM cells WHERE vec_id < 20),
        |alld AS (SELECT q_id, c.vec_id AS c_id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(c.q[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(c.q[CAST(i AS INT)] - qq[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM cells c, qs WHERE c.vec_id <> q_id),
        |truth AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY d, c_id) AS tr
        |  FROM alld) WHERE tr <= 5),
        |probes AS (
        |  SELECT 1 AS np, q_id, qc1i AS pi, qc1s AS ps FROM qs
        |  UNION ALL SELECT 2, q_id, qc1i, qc1s FROM qs
        |  UNION ALL SELECT 2, q_id, qc2i, qc2s FROM qs),
        |cand AS (SELECT p.np, p.q_id, c.vec_id AS c_id, a.d
        |  FROM probes p JOIN cells c ON c.c1i = p.pi AND c.c1s = p.ps
        |  JOIN alld a ON a.q_id = p.q_id AND a.c_id = c.vec_id
        |  WHERE c.vec_id <> p.q_id),
        |approx AS (SELECT np, q_id, c_id FROM (SELECT np, q_id, c_id,
        |    row_number() OVER (PARTITION BY np, q_id ORDER BY d, c_id) AS ar
        |  FROM cand) WHERE ar <= 5),
        |h AS (SELECT np, CAST(count(*) AS BIGINT) AS hits FROM approx
        |  WHERE EXISTS (SELECT 1 FROM truth t
        |    WHERE t.q_id = approx.q_id AND t.c_id = approx.c_id)
        |  GROUP BY 1),
        |nc AS (SELECT np, CAST(count(*) AS BIGINT) AS n_candidates
        |  FROM cand GROUP BY 1),
        |nq AS (SELECT CAST(count(*) AS BIGINT) AS n_q FROM qs)
        |SELECT nc.np AS nprobe, n_q, n_candidates, hits,
        |  CAST(hits * 1000000 // (5 * n_q) AS BIGINT) AS recall_ppm
        |FROM nc JOIN h USING (np), nq ORDER BY nprobe""".stripMargin,
    "q346_ivfpq_residual" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |ks AS (SELECT vec_id AS j, q AS c FROM qt WHERE vec_id < 8),
        |kd0 AS (SELECT qt.vec_id, ks.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qt.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qt.q[CAST(i AS INT)] - ks.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM qt, ks),
        |ka0 AS (SELECT vec_id, j AS a0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM kd0)
        |  WHERE rn = 1),
        |ksums AS (SELECT ka0.a0, t.i,
        |    CAST(sum(qt.q[CAST(t.i AS INT)]) AS BIGINT) AS sv,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM ka0 JOIN qt USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |ckmu AS (SELECT a0 AS j, list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM ksums GROUP BY 1),
        |ckm AS (SELECT ks.j, coalesce(ckmu.c, ks.c) AS c
        |  FROM ks LEFT JOIN ckmu ON ks.j = ckmu.j),
        |cd AS (SELECT qt.vec_id, ckm.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qt.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qt.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM qt, ckm),
        |cell AS (SELECT vec_id, j AS kcell FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM cd)
        |  WHERE rn = 1),
        |res AS (SELECT qt.vec_id, cell.kcell,
        |    list_transform(range(1, 65),
        |      i -> qt.q[CAST(i AS INT)] - ckm.c[CAST(i AS INT)] + 254) AS r
        |  FROM qt JOIN cell USING (vec_id) JOIN ckm ON ckm.j = cell.kcell),
        |sub AS (SELECT vec_id, kcell, CAST(s.s AS INT) AS sub,
        |    res.r[CAST(s.s * 16 + 1 AS INT) : CAST(s.s * 16 + 16 AS INT)] AS sq
        |  FROM res, range(0, 4) s(s)),
        |c0 AS (SELECT vec_id AS j, sub, sq AS c FROM sub WHERE vec_id < 8),
        |d0 AS (SELECT sub.vec_id, sub.sub, c0.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c0 USING (sub)),
        |a0 AS (SELECT vec_id, sub, j AS code0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d0)
        |  WHERE rn = 1),
        |sums AS (SELECT a0.sub, a0.code0, t.i,
        |    CAST(sum(sub.sq[CAST(t.i AS INT)]) AS BIGINT) AS sv
        |  FROM a0 JOIN sub USING (vec_id, sub), range(1, 17) t(i) GROUP BY 1, 2, 3),
        |cnt AS (SELECT sub, code0, CAST(count(*) AS BIGINT) AS n FROM a0 GROUP BY 1, 2),
        |c1u AS (SELECT sums.sub, sums.code0 AS j,
        |    list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM sums JOIN cnt USING (sub, code0) GROUP BY 1, 2),
        |c1 AS (SELECT c0.sub, c0.j, coalesce(c1u.c, c0.c) AS c
        |  FROM c0 LEFT JOIN c1u ON c0.sub = c1u.sub AND c0.j = c1u.j),
        |d1 AS (SELECT sub.vec_id, sub.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c1 USING (sub)),
        |a1 AS (SELECT vec_id, sub, j AS code1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d1)
        |  WHERE rn = 1),
        |qry AS (SELECT vec_id AS q_id, kcell FROM res WHERE vec_id < 20),
        |qsub AS (SELECT vec_id AS q_id, sub, sq FROM sub WHERE vec_id < 20),
        |dtab AS (SELECT qsub.q_id, c1.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS dl
        |  FROM c1 JOIN qsub USING (sub)),
        |cand AS (SELECT q.q_id, c.vec_id AS c_id
        |  FROM qry q JOIN res c USING (kcell)
        |  WHERE c.vec_id <> q.q_id),
        |score AS (SELECT cand.q_id, cand.c_id, CAST(sum(dtab.dl) AS BIGINT) AS adc_d
        |  FROM cand JOIN a1 ON a1.vec_id = cand.c_id
        |  JOIN dtab ON dtab.q_id = cand.q_id AND dtab.sub = a1.sub AND dtab.j = a1.code1
        |  GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, adc_d,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d, c_id) AS rank
        |  FROM score)
        |SELECT r.q_id, CAST(r.rank AS INT) AS rank, r.c_id, r.adc_d,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CAST(cq.q[CAST(i AS INT)] - qq.q[CAST(i AS INT)] AS DOUBLE)
        |       * CAST(cq.q[CAST(i AS INT)] - qq.q[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS true_d
        |FROM ranked r JOIN qt cq ON cq.vec_id = r.c_id JOIN qt qq ON qq.vec_id = r.q_id
        |WHERE r.rank <= 5
        |ORDER BY r.q_id, r.rank""".stripMargin,
    "q317_ivfpq" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_transform(embedding, x -> abs(x)) AS la FROM embeddings),
        |cells AS (SELECT vec_id,
        |    list_position(la, list_aggregate(la, 'max')) AS cell_idx,
        |    v[list_position(la, list_aggregate(la, 'max'))] > 0 AS cell_sign
        |  FROM e),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |sub AS (SELECT vec_id, CAST(s.s AS INT) AS sub,
        |    qt.q[CAST(s.s * 16 + 1 AS INT) : CAST(s.s * 16 + 16 AS INT)] AS sq
        |  FROM qt, range(0, 4) s(s)),
        |c0 AS (SELECT vec_id AS j, sub, sq AS c FROM sub WHERE vec_id < 8),
        |d0 AS (SELECT sub.vec_id, sub.sub, c0.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c0 USING (sub)),
        |a0 AS (SELECT vec_id, sub, j AS code0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d0)
        |  WHERE rn = 1),
        |sums AS (SELECT a0.sub, a0.code0, t.i,
        |    CAST(sum(sub.sq[CAST(t.i AS INT)]) AS BIGINT) AS sv
        |  FROM a0 JOIN sub USING (vec_id, sub), range(1, 17) t(i) GROUP BY 1, 2, 3),
        |cnt AS (SELECT sub, code0, CAST(count(*) AS BIGINT) AS n FROM a0 GROUP BY 1, 2),
        |c1u AS (SELECT sums.sub, sums.code0 AS j,
        |    list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM sums JOIN cnt USING (sub, code0) GROUP BY 1, 2),
        |c1 AS (SELECT c0.sub, c0.j, coalesce(c1u.c, c0.c) AS c
        |  FROM c0 LEFT JOIN c1u ON c0.sub = c1u.sub AND c0.j = c1u.j),
        |d1 AS (SELECT sub.vec_id, sub.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c1 USING (sub)),
        |a1 AS (SELECT vec_id, sub, j AS code1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d1)
        |  WHERE rn = 1),
        |qry AS (SELECT vec_id AS q_id, cell_idx, cell_sign FROM cells WHERE vec_id < 20),
        |qsub AS (SELECT vec_id AS q_id, sub, sq FROM sub WHERE vec_id < 20),
        |dtab AS (SELECT qsub.q_id, c1.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS dl
        |  FROM c1 JOIN qsub USING (sub)),
        |cand AS (SELECT q.q_id, c.vec_id AS c_id
        |  FROM qry q JOIN cells c USING (cell_idx, cell_sign)
        |  WHERE c.vec_id <> q.q_id),
        |score AS (SELECT cand.q_id, cand.c_id, CAST(sum(dtab.dl) AS BIGINT) AS adc_d
        |  FROM cand JOIN a1 ON a1.vec_id = cand.c_id
        |  JOIN dtab ON dtab.q_id = cand.q_id AND dtab.sub = a1.sub AND dtab.j = a1.code1
        |  GROUP BY 1, 2),
        |ranked AS (SELECT q_id, c_id, adc_d,
        |    row_number() OVER (PARTITION BY q_id ORDER BY adc_d, c_id) AS rank
        |  FROM score)
        |SELECT r.q_id, CAST(r.rank AS INT) AS rank, r.c_id, r.adc_d,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CAST(cq.q[CAST(i AS INT)] - qq.q[CAST(i AS INT)] AS DOUBLE)
        |       * CAST(cq.q[CAST(i AS INT)] - qq.q[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS true_d
        |FROM ranked r JOIN qt cq ON cq.vec_id = r.c_id JOIN qt qq ON qq.vec_id = r.q_id
        |WHERE r.rank <= 5
        |ORDER BY r.q_id, r.rank""".stripMargin,
    "q314_ann_rank_eval" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qz AS (SELECT vec_id, v,
         |    list_transform(v, x -> CAST(round(
         |      x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
         |  FROM e),
         |queries AS (SELECT vec_id AS q_id, v AS qv, q AS qq FROM qz
         |  WHERE vec_id < 50),
         |pairs AS (SELECT q_id, z.vec_id AS c_id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> qq[i] * z.q[i])) AS BIGINT) AS score_int,
         |    ${cosSql("qv", "z.v")} AS sim_exact
         |  FROM qz z, queries WHERE z.vec_id <> q_id),
         |truth AS (SELECT q_id, c_id FROM (SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim_exact DESC, c_id ASC) AS xr FROM pairs)
         |  WHERE xr = 1),
         |approx AS (SELECT q_id, c_id, arank FROM (SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_int DESC, c_id ASC) AS arank FROM pairs)
         |  WHERE arank <= 10),
         |found AS (SELECT t.q_id, coalesce(a.arank, 0) AS rank_bucket
         |  FROM truth t LEFT JOIN approx a
         |    ON t.q_id = a.q_id AND t.c_id = a.c_id),
         |tot AS (SELECT count(*) AS n_q FROM found)
         |SELECT CAST(rank_bucket AS BIGINT) AS rank_bucket,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(floor(count(*) * 1000000 / n_q) AS BIGINT) AS share_ppm
         |FROM found, tot GROUP BY rank_bucket, n_q
         |ORDER BY rank_bucket""".stripMargin,
    "q308_dim_stats" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT))
        |    AS q FROM e),
        |d AS (SELECT unnest(range(0, len(q))) AS dim, unnest(q) AS qv
        |  FROM qt),
        |a AS (SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(qv) AS BIGINT) AS s,
        |    CAST(sum(qv * qv) AS BIGINT) AS s2,
        |    CAST(min(qv) AS INT) AS q_min, CAST(max(qv) AS INT) AS q_max
        |  FROM d GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim, n, q_min, q_max,
        |  round(CAST(s AS DOUBLE) / n, 6) AS mean,
        |  round(sqrt(CAST(n * s2 - s * s AS DOUBLE)) / n, 6) AS std
        |FROM a ORDER BY dim""".stripMargin,
    "q258_pq_knn" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT) + 127) AS q
        |  FROM e),
        |sub AS (SELECT vec_id, CAST(s.s AS INT) AS sub,
        |    qt.q[CAST(s.s * 16 + 1 AS INT) : CAST(s.s * 16 + 16 AS INT)] AS sq
        |  FROM qt, range(0, 4) s(s)),
        |c0 AS (SELECT vec_id AS j, sub, sq AS c FROM sub WHERE vec_id < 8),
        |d0 AS (SELECT sub.vec_id, sub.sub, c0.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c0 USING (sub)),
        |a0 AS (SELECT vec_id, sub, j AS code0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d0)
        |  WHERE rn = 1),
        |sums AS (SELECT a0.sub, a0.code0, t.i,
        |    CAST(sum(sub.sq[CAST(t.i AS INT)]) AS BIGINT) AS sv
        |  FROM a0 JOIN sub USING (vec_id, sub), range(1, 17) t(i) GROUP BY 1, 2, 3),
        |cnt AS (SELECT sub, code0, CAST(count(*) AS BIGINT) AS n FROM a0 GROUP BY 1, 2),
        |c1u AS (SELECT sums.sub, sums.code0 AS j,
        |    list((2 * sv + n) // (2 * n) ORDER BY i) AS c
        |  FROM sums JOIN cnt USING (sub, code0) GROUP BY 1, 2),
        |c1 AS (SELECT c0.sub, c0.j, coalesce(c1u.c, c0.c) AS c
        |  FROM c0 LEFT JOIN c1u ON c0.sub = c1u.sub AND c0.j = c1u.j),
        |qsub AS (SELECT sub, sq FROM sub WHERE vec_id = 0),
        |dtab AS (SELECT c1.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qsub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS dl
        |  FROM c1 JOIN qsub USING (sub)),
        |d1 AS (SELECT sub.vec_id, sub.sub, c1.j,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(sub.sq[CAST(i AS INT)] - c1.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM sub JOIN c1 USING (sub)),
        |a1 AS (SELECT vec_id, sub, j AS code1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, j) AS rn FROM d1)
        |  WHERE rn = 1),
        |score AS (SELECT a1.vec_id, CAST(sum(dtab.dl) AS BIGINT) AS adc_d
        |  FROM a1 JOIN dtab ON a1.sub = dtab.sub AND a1.code1 = dtab.j
        |  GROUP BY 1),
        |topk AS (SELECT vec_id, adc_d,
        |    CAST(row_number() OVER (ORDER BY adc_d, vec_id) AS INT) AS rank
        |  FROM score WHERE vec_id <> 0
        |  ORDER BY adc_d, vec_id LIMIT 10),
        |qfull AS (SELECT q FROM qt WHERE vec_id = 0)
        |SELECT t.rank, t.vec_id, t.adc_d,
        |  CAST(list_sum(list_transform(range(1, 65),
        |    i -> CAST(qt.q[CAST(i AS INT)] - qfull.q[CAST(i AS INT)] AS DOUBLE)
        |       * CAST(qt.q[CAST(i AS INT)] - qfull.q[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS true_d
        |FROM topk t JOIN qt ON t.vec_id = qt.vec_id, qfull
        |ORDER BY t.rank""".stripMargin,
    "q246_ivf_balance" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |    list_transform(embedding, x -> abs(x)) AS la FROM embeddings),
        |cells AS (SELECT
        |    list_position(la, list_aggregate(la, 'max')) AS cell_idx,
        |    v[list_position(la, list_aggregate(la, 'max'))] > 0
        |      AS cell_sign FROM e),
        |c AS (SELECT cell_idx, cell_sign, count(*) AS n FROM cells
        |  GROUP BY 1, 2),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_cells,
        |    CAST(sum(n) AS BIGINT) AS tot, CAST(max(n) AS BIGINT)
        |      AS max_cell FROM c)
        |SELECT n_cells, tot AS n_vectors, max_cell,
        |  round(CAST(max_cell AS DOUBLE) / tot, 6) AS max_share,
        |  round(CAST(max_cell AS DOUBLE) * n_cells / tot, 6)
        |    AS balance_factor
        |FROM a""".stripMargin,
    "q195_norm_screen" ->
      """WITH e AS (SELECT label,
        |    round(sqrt(list_sum(list_transform(embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS nrm
        |  FROM embeddings)
        |SELECT label, CAST(floor(nrm) AS INT) AS norm_bucket,
        |  CAST(count(*) AS BIGINT) AS n,
        |  min(nrm) AS min_norm, max(nrm) AS max_norm
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q196_sim_histogram" ->
      """WITH e AS (SELECT vec_id, vec_id % 50 AS blk,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |p AS (SELECT round(
        |    list_sum(list_transform(range(1, len(a.v)+1),
        |      i -> a.v[i] * b.v[i]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
        |      * sqrt(list_sum(list_transform(b.v, x -> x * x)))), 6) AS cos
        |  FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id)
        |SELECT CAST(floor(cos * 10) AS INT) AS cos_bucket,
        |  CAST(count(*) AS BIGINT) AS n_pairs
        |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,
    "q197_dot_expr_sql" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_sum(list_transform(range(1, len(a.embedding)+1),
        |    i -> CAST(a.embedding[i] AS DOUBLE)
        |      * CAST(b.embedding[i] AS DOUBLE))), 6) AS dot
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 30 AND b.vec_id < 30
        |ORDER BY id_a, id_b""".stripMargin,
    "q121_label_centroid_sim" ->
      """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT label, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q FROM e),
        |px AS (SELECT label, i AS pos, q[i] AS x FROM qt,
        |  LATERAL (SELECT unnest(range(1, len(q) + 1)) AS i) t),
        |sums AS (SELECT label, pos, CAST(sum(x) AS BIGINT) AS sx FROM px GROUP BY 1, 2),
        |d AS (SELECT a.label AS la, b.label AS lb, CAST(sum(a.sx * b.sx) AS BIGINT) AS dot
        |  FROM sums a JOIN sums b USING (pos) WHERE a.label <= b.label GROUP BY 1, 2),
        |n AS (SELECT la, dot AS n2 FROM d WHERE la = lb)
        |SELECT d.la, d.lb,
        |  round(CAST(d.dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
        |FROM d JOIN n na ON na.la = d.la JOIN n nb ON nb.la = d.lb
        |ORDER BY d.la, d.lb""".stripMargin,
    "q40_knn_brute" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |sims AS (SELECT q_id, e.vec_id AS c_id, ${cosSql("qv", "v")} AS sim
         |  FROM q JOIN e ON e.vec_id <> q_id),
         |ranked AS (SELECT q_id, c_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q41_knn_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |    list_transform(embedding, x -> abs(x)) AS la FROM embeddings),
         |cells AS (SELECT vec_id, v,
         |    list_position(la, list_aggregate(la, 'max')) AS cell_idx,
         |    v[list_position(la, list_aggregate(la, 'max'))] > 0 AS cell_sign
         |  FROM e),
         |q AS (SELECT vec_id AS q_id, v AS qv, cell_idx, cell_sign FROM cells WHERE vec_id < 20),
         |sims AS (SELECT q_id, c.vec_id AS c_id, ${cosSql("qv", "v")} AS sim
         |  FROM q JOIN cells c USING (cell_idx, cell_sign) WHERE c.vec_id <> q_id),
         |ranked AS (SELECT q_id, c_id, sim,
         |  row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id ASC) AS rank
         |  FROM sims)
         |SELECT q_id, c_id, sim, CAST(rank AS INT) AS rank FROM ranked
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin,
    "q86_knn_quantized" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |qz AS (SELECT vec_id, v,
         |    list_transform(v, x -> CAST(round(
         |      x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
         |  FROM e),
         |queries AS (SELECT vec_id AS q_id, v AS qv, q AS qq FROM qz WHERE vec_id < 5),
         |pairs AS (SELECT q_id, z.vec_id AS c_id,
         |    CAST(list_sum(list_transform(range(1, 65), i -> qq[i] * z.q[i])) AS BIGINT) AS score_int,
         |    ${cosSql("qv", "z.v")} AS sim_exact
         |  FROM qz z, queries WHERE z.vec_id <> q_id),
         |at AS (SELECT q_id, c_id, score_int,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score_int DESC, c_id ASC) AS rank
         |  FROM pairs),
         |xt AS (SELECT q_id, c_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim_exact DESC, c_id ASC) AS xrank
         |  FROM pairs)
         |SELECT a.q_id, CAST(a.rank AS INT) AS rank, a.c_id, a.score_int,
         |  coalesce(x.xrank <= 10, FALSE) AS in_exact_top10
         |FROM at a LEFT JOIN xt x ON a.q_id = x.q_id AND a.c_id = x.c_id
         |WHERE a.rank <= 10 ORDER BY a.q_id, a.rank""".stripMargin,
    "q69_lsh_neardup" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |proj AS (SELECT vec_id, t.k,
         |    list_sum(list_transform(range(1, 65),
         |      i -> v[i] * ((('0x' || substr(md5(k || ':' || i), 1, 6))::BIGINT % 2001 - 1000) / 1000.0))) AS p
         |  FROM e, range(0, 8) t(k)),
         |b AS (SELECT vec_id, sum(CASE WHEN p > 0 THEN CAST(power(2, k) AS BIGINT) ELSE 0 END) AS bucket
         |  FROM proj GROUP BY vec_id),
         |bv AS (SELECT b.vec_id, bucket, v FROM b JOIN e USING (vec_id))
         |SELECT a.vec_id AS id_a, b2.vec_id AS id_b, ${cosSql("a.v", "b2.v")} AS sim
         |FROM bv a JOIN bv b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |ORDER BY sim DESC, id_a, id_b LIMIT 20""".stripMargin,
    "q34_embedding_neardup" ->
      s"""WITH e AS (SELECT label, vec_id, embedding::DOUBLE[] AS v,
         |    list_transform(embedding, x -> abs(x)) AS la FROM embeddings),
         |cells AS (SELECT label, vec_id, v,
         |    list_position(la, list_aggregate(la, 'max')) AS cell_idx,
         |    v[list_position(la, list_aggregate(la, 'max'))] > 0 AS cell_sign
         |  FROM e)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${cosSql("a.v", "b.v")} AS sim
         |FROM cells a JOIN cells b
         |  ON a.label = b.label AND a.cell_idx = b.cell_idx
         | AND a.cell_sign = b.cell_sign AND a.vec_id < b.vec_id
         |ORDER BY sim DESC, id_a, id_b LIMIT 20""".stripMargin,
    "q91_kmeans_train" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
        |  FROM e),
        |c0 AS (SELECT vec_id AS j, q AS c FROM qt WHERE vec_id < 8),
        |d0 AS (SELECT qt.vec_id, c0.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qt.q[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qt.q[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM qt, c0),
        |a0 AS (SELECT vec_id, j AS a0, d AS d0 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM d0)
        |  WHERE rn = 1),
        |sums AS (SELECT a0.a0 AS j, t.i,
        |    CAST(sum(qt.q[CAST(t.i AS INT)]) AS BIGINT) AS sv
        |  FROM a0 JOIN qt USING (vec_id), range(1, 65) t(i) GROUP BY 1, 2),
        |cnt AS (SELECT a0 AS j, count(*) AS n FROM a0 GROUP BY 1),
        |c1 AS (SELECT sums.j, cnt.n, list(sv ORDER BY i) AS s
        |  FROM sums JOIN cnt USING (j) GROUP BY sums.j, cnt.n),
        |d1 AS (SELECT qt.vec_id, c1.j,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(c1.n AS DOUBLE) * qt.q[CAST(i AS INT)] - c1.s[CAST(i AS INT)])
        |         * (CAST(c1.n AS DOUBLE) * qt.q[CAST(i AS INT)] - c1.s[CAST(i AS INT)])))
        |      / (c1.n * c1.n) AS d
        |  FROM qt, c1),
        |a1 AS (SELECT vec_id, j AS a1 FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM d1)
        |  WHERE rn = 1),
        |joined AS (SELECT a0.vec_id, a0.a0, a0.d0, a1.a1 FROM a0 JOIN a1 USING (vec_id)),
        |s0 AS (SELECT a0 AS cluster, count(*) AS n0, CAST(sum(d0) AS BIGINT) AS inertia0,
        |    CAST(sum(CASE WHEN a1 <> a0 THEN 1 ELSE 0 END) AS BIGINT) AS moved_out
        |  FROM joined GROUP BY 1),
        |s1 AS (SELECT a1 AS cluster, count(*) AS n1 FROM joined GROUP BY 1)
        |SELECT c0.j AS cluster, coalesce(s0.n0, 0) AS n0, coalesce(s1.n1, 0) AS n1,
        |  coalesce(s0.moved_out, 0) AS moved_out, coalesce(s0.inertia0, 0) AS inertia0
        |FROM c0 LEFT JOIN s0 ON c0.j = s0.cluster LEFT JOIN s1 ON c0.j = s1.cluster
        |ORDER BY cluster""".stripMargin,
    "q99_semantic_dedup" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qt AS (SELECT vec_id, list_transform(v, x -> CAST(round(
        |    x / sqrt(list_sum(list_transform(v, y -> y * y))) * 127) AS INT)) AS q
        |  FROM e),
        |c0 AS (SELECT vec_id AS j, q AS c FROM qt ORDER BY vec_id LIMIT 8),
        |d0 AS (SELECT qt.vec_id, c0.j,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(qt.q[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE)
        |         * CAST(qt.q[CAST(i AS INT)] - c0.c[CAST(i AS INT)] AS DOUBLE))) AS BIGINT) AS d
        |  FROM qt, c0),
        |asg AS (SELECT vec_id, j AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, j) AS rn FROM d0)
        |  WHERE rn = 1),
        |aq AS (SELECT asg.vec_id, cluster, qt.q FROM asg JOIN qt USING (vec_id)),
        |pr AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.q[CAST(i AS INT)] AS DOUBLE) * b.q[CAST(i AS INT)])) AS BIGINT) AS dp,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(a.q[CAST(i AS INT)] AS DOUBLE) * a.q[CAST(i AS INT)])) AS BIGINT) AS na2,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CAST(b.q[CAST(i AS INT)] AS DOUBLE) * b.q[CAST(i AS INT)])) AS BIGINT) AS nb2
        |  FROM aq a JOIN aq b ON a.cluster = b.cluster AND a.vec_id < b.vec_id),
        |dup AS (SELECT cluster, id_a, id_b FROM pr
        |  WHERE dp > 0 AND dp * dp * 400 >= 49 * na2 * nb2),
        |dropped AS (SELECT DISTINCT id_b FROM dup),
        |per AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs,
        |    CAST(count(*) FILTER (vec_id IN (SELECT id_b FROM dropped)) AS BIGINT) AS n_dropped
        |  FROM asg GROUP BY 1),
        |dpc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS dup_pairs FROM dup GROUP BY 1)
        |SELECT per.cluster, per.n_vecs, coalesce(dpc.dup_pairs, 0) AS dup_pairs,
        |  per.n_dropped, per.n_vecs - per.n_dropped AS n_kept
        |FROM per LEFT JOIN dpc USING (cluster)
        |ORDER BY cluster""".stripMargin
  )
}
