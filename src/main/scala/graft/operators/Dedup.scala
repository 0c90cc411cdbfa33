package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHashSignature, ParityFunctions => PF}
import graft.sources.ManifestTable

/** Fuzzy-deduplication operators for a training-data pipeline: MinHash+LSH,
  * SimHash, and exact n-gram Jaccard verification.
  *
  * Portability note: all hashing is md5-based (identical bytes→hex in every
  * engine) and "minimum" is lexicographic over hex strings — a valid
  * min-hash family that the DuckDB oracle can reproduce exactly, unlike
  * engine-specific hash() builtins.
  *
  * Scale notes (100 TB): MinHash works on one row per document, `(id,
  * shingles, sz)`, with the signature computed in the same projection by
  * native kernels ([[graft.functions.Shingles]],
  * [[graft.functions.MinHashSignature]]) — linear in corpus size, no
  * shuffle. The LSH band self-join shuffles only (band_idx, band_hash, id)
  * triples, never texts; Jaccard verification shuffles the candidate pairs
  * and, per pair end, one per-document shingle array — never exploded
  * shingle rows. Hub buckets (a band shared by many docs) are the skew
  * risk — AQE skew-join handles moderate cases; a frequency cap on bucket
  * size is the escape hatch.
  */
object Dedup {

  /** One row per document: `(idCol, shingles, sz)` — its distinct word
    * `n`-shingles in first-occurrence order and their count (a long).
    * A document with fewer than `n` tokens has `sz = 0`, a null signature
    * and no band key. */
  def docShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), PF.wordShingles(col(textCol), n).as("shingles"))
      .select(col(idCol), col("shingles"), size(col("shingles")).cast("long").as("sz"))

  /** Exploded distinct (id, shingle) pairs of [[docShingles]], for
    * shingle-keyed work (document frequencies, containment joins). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    docShingles(df, idCol, textCol, n)
      .select(col(idCol), explode(col("shingles")).as("shingle"))

  /** Appends MinHash signature columns `m0`…`m{numHashes-1}` to a
    * per-document relation with a `shingles` array: `m_i` =
    * `min(md5(i || ':' || shingle))` as hex bytes, computed once per
    * document by one kernel call (its result is referenced by every `m_i`,
    * so the optimizer keeps it in its own projection). */
  def withSignature(docs: DataFrame, numHashes: Int): DataFrame = {
    val kept = docs.columns.map(c => col(s"`$c`"))
    docs.select(kept :+ MinHashSignature.minHashSignature(col("shingles"), numHashes).as("_sig"): _*)
      .select(kept ++ (0 until numHashes).map(i => col("_sig").getItem(i).as(s"m$i")): _*)
  }

  /** MinHash signatures over exploded `(id, shingle)` rows: one `(idCol,
    * sz, m0…)` row per id, `sz` counting its rows. The same signature
    * kernel as [[withSignature]], over each id's collected shingles. */
  def minHashSignatures(sh: DataFrame, idCol: String, numHashes: Int): DataFrame =
    withSignature(
      sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"), collect_list(col("shingle")).as("shingles")),
      numHashes).drop("shingles")

  /** LSH banding: group the signature into bands of `rowsPerBand` hashes;
    * band key = md5 of the member hashes joined by '|'. Output one row per
    * (id, band_idx, band_hash); a null signature (no shingles) gives null
    * band keys, which match nothing.
    */
  def lshBands(sig: DataFrame, idCol: String, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = array((0 until numBands).map { j =>
      val members = (0 until rowsPerBand).map(r => col(s"m${j * rowsPerBand + r}"))
      val joined = concat(members.flatMap(m => Seq(lit("|"), m.cast("string"))).tail: _*)
      struct(lit(j).as("band_idx"), md5(joined.cast("binary")).as("band_hash"))
    }: _*)
    sig.select(col(idCol), explode(bands).as("b"))
      .select(col(idCol), col("b.band_idx"), col("b.band_hash"))
  }

  /** Candidate pairs: ids sharing at least one LSH band. The join shuffles
    * only (band_idx, band_hash, id) triples. */
  def lshCandidatePairs(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col("band_idx"), col("band_hash"), col(idCol).as("id_a"))
    val b = bands.select(col("band_idx"), col("band_hash"), col(idCol).as("id_b"))
    a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard of candidate pairs over a per-document `(idCol,
    * shingles, sz)` relation ([[docShingles]]): |A∩B| =
    * `size(array_intersect(a, b))` of the two distinct arrays, |A∪B| =
    * |A|+|B|-|A∩B|. A pair naming an id absent from `docs` is dropped; a
    * disjoint pair scores 0. */
  def jaccardOnPairs(pairs: DataFrame, docs: DataFrame, idCol: String): DataFrame = {
    def side(s: String) = docs.select(col(idCol).as(s"id_$s"),
      col("shingles").as(s"sh_$s"), col("sz").as(s"sz_$s"))
    pairs.join(side("a"), Seq("id_a")).join(side("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("common"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** Full MinHash-LSH fuzzy dedup: per-document shingles and signature in
    * one projection → bands → candidate pairs → exact-Jaccard verification
    * ≥ `threshold`. Documents with fewer than `shingleN` tokens have no
    * band key and pair with nothing. No filter drops them first: Spark
    * would push it below the shingle projection and shingle twice. */
  def minHashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleN: Int = 3, numHashes: Int = 8, rowsPerBand: Int = 2,
                   threshold: Double = 0.4): DataFrame = {
    val docs = docShingles(df, idCol, textCol, shingleN)
    val pairs = lshCandidatePairs(
      lshBands(withSignature(docs, numHashes), idCol, numHashes, rowsPerBand), idCol)
    jaccardOnPairs(pairs, docs, idCol).filter(col("jaccard") >= threshold)
  }

  /** Connected components over near-duplicate pairs → dedup clusters: one
    * `(id, component)` row per id that a pair names, where `component` is
    * the smallest id of the cluster in the order Spark's `min` uses and
    * `id` keeps the pairs' id type. A pair with a null end is ignored: a
    * null id names no row that [[keepCanonical]] could drop.
    *
    * Two paths, one output:
    *  - **Driver.** When `id_a` and `id_b` share an id type with a
    *    driver-side twin of Spark's order (Long and Int ids; `UTF8String`
    *    byte order for binary-collated strings, not `String.compareTo`)
    *    and one bounded collect, `limit(DriverPairs + 1)`, returns at most
    *    [[DriverPairs]] rows, a union-find labels them on the driver and the
    *    labels come back as a local relation. No checkpoint, no job per
    *    round: the collect is one job over a materialized one-partition
    *    pair set (what AQE makes of a small one); over P partitions Spark's
    *    incremental limit scan takes up to about log₄ P + 1.
    *  - **Distributed.** Otherwise (a pair set over the bound has paid one
    *    partial pass for that collect), alternating large-star and small-star
    *    rounds (Kiveris et al., "Connected Components in MapReduce and
    *    Beyond", SoCC 2014), one job each: O(log n) rounds where min-label
    *    propagation needs one per hop of the cluster diameter. Each undirected
    *    edge is kept once as `(hi, lo)`, `hi > lo`. Large-star re-points each
    *    edge `(v, u)` at `min Γ⁺(u)`; small-star re-points every smaller
    *    neighbour of a node, and the node itself, at the smallest of them.
    *    Both are identities exactly on a star forest (no `lo` is also a `hi`,
    *    no `hi` has two `lo`s), whose centres are the component minima, so
    *    a round that moved nothing has converged; the `dirty` flag counting
    *    that rides the same job that materializes the round.
    *
    * Fault-tolerance (distributed path): each round's edges are persisted
    * and RELIABLY checkpointed every `checkpointEvery` rounds
    * (`rdd.checkpoint()` to `checkpointDir` — pass a durable HDFS/S3 path in
    * production; `localCheckpoint` would pin blocks to executors and lose
    * them on executor failure/deallocation), so lineage never spans more
    * than `checkpointEvery` rounds. Task retries can over-count the dirty
    * accumulator; it is only compared to zero, so the worst case is one
    * redundant round.
    *
    * Throws IllegalStateException when round `maxIter` still moved an
    * edge: the labels have not converged.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          checkpointDir: Option[String] = None,
                          checkpointEvery: Int = 3): DataFrame =
    components(pairs, DriverPairs, maxIter, checkpointDir, checkpointEvery)

  /** Pair sets of at most this many rows take the driver path of
    * [[connectedComponents]]. Measured with Spark's `SizeEstimator` on
    * 2^18 Long-id pairs over 388 k distinct ids: 100 B per pair for the
    * collected rows, 156 B for the union-find, 78 B for the label rows and
    * 130 B for the local relation built from them, ~460 B per pair or
    * ~120 MB at the bound while the call runs; only the local relation
    * (~34 MB) outlives it. [[keepCanonical]] already broadcasts every
    * non-canonical id from the driver, so the driver is assumed to hold a
    * set of this size anyway. */
  private val DriverPairs = 1 << 18

  /** [[connectedComponents]] with the driver-path bound as a parameter: 0
    * sends every pair set, even an empty one, to the distributed path. */
  private[graft] def components(pairs: DataFrame, driverPairs: Int, maxIter: Int,
                                checkpointDir: Option[String],
                                checkpointEvery: Int): DataFrame = {
    val (ta, tb) = (pairs.schema("id_a").dataType, pairs.schema("id_b").dataType)
    val order = if (ta == tb && driverPairs > 0) driverOrder(ta) else None
    val local = order.flatMap { ord =>
      val rows = pairs.select("id_a", "id_b").limit(driverPairs + 1).collect()
      if (rows.length > driverPairs) None
      else Some(pairs.sparkSession.createDataFrame(unionFind(rows, ord).asJava, labelSchema(ta)))
    }
    local.getOrElse(distributedComponents(pairs, maxIter, checkpointDir, checkpointEvery))
  }

  private def labelSchema(t: DataType): StructType =
    StructType(Seq(StructField("id", t, nullable = false),
      StructField("component", t, nullable = false)))

  /** The driver-side twin of the order Spark's `min` uses on `t`; None for
    * id types without one, which take the distributed path. */
  private def driverOrder(t: DataType): Option[Ordering[Any]] = t match {
    case LongType => Some(Ordering.by[Any, Long](_.asInstanceOf[Long]))
    case IntegerType => Some(Ordering.by[Any, Int](_.asInstanceOf[Int]))
    // UTF8_BINARY strings (StringType equality includes the collation):
    // UTF-8 byte order, not UTF-16 code-unit order. "｡" (U+FF61) sorts
    // before "😀" (U+1F600) here and after it under String.compareTo
    case StringType =>
      Some(Ordering.fromLessThan[Any]((a, b) =>
        UTF8String.fromString(a.asInstanceOf[String])
          .compareTo(UTF8String.fromString(b.asInstanceOf[String])) < 0))
    case _ => None
  }

  /** Union-find over collected `(id_a, id_b)` rows, skipping null ends.
    * Every root is the smallest id of its set under `ord`, so one `find`
    * names the component. */
  private def unionFind(rows: Array[Row], ord: Ordering[Any]): Seq[Row] = {
    val index = mutable.HashMap.empty[Any, Int]
    val ids = new Array[Any](2 * rows.length)
    val parent = new Array[Int](2 * rows.length)
    var n = 0
    def node(x: Any): Int = index.getOrElseUpdate(x, { ids(n) = x; parent(n) = n; n += 1; n - 1 })
    def find(i: Int): Int = {
      var j = i
      while (parent(j) != j) { parent(j) = parent(parent(j)); j = parent(j) } // path halving
      j
    }
    rows.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (a, b) = (find(node(r.get(0))), find(node(r.get(1))))
        if (a != b) { if (ord.lt(ids(a), ids(b))) parent(b) = a else parent(a) = b }
      }
    }
    (0 until n).map(i => Row(ids(i), ids(find(i))))
  }

  private def distributedComponents(pairs: DataFrame, maxIter: Int,
                                    checkpointDir: Option[String],
                                    checkpointEvery: Int): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    if (sc.getCheckpointDir.isEmpty) checkpointDir match {
      case Some(d) => sc.setCheckpointDir(d)
      case None =>
        // A driver-local temp dir is only a RELIABLE checkpoint target when
        // driver and executors share a filesystem — i.e. local mode. On a
        // cluster each executor would write its parts to its own disk and
        // the checkpoint would be silently non-durable: fail fast instead.
        require(sc.isLocal,
          "connectedComponents: no checkpoint dir configured. On a cluster, " +
          "set sc.setCheckpointDir to a durable shared path (HDFS/S3) or " +
          "pass checkpointDir explicitly.")
        val tmp = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
        sc.setCheckpointDir(tmp.toString)
        // Checkpoint parts must outlive this call (the returned frame's
        // lineage references them until the caller materializes it), so
        // clean up at JVM exit rather than at convergence.
        Runtime.getRuntime.addShutdownHook(new Thread(() => ManifestTable.rmTree(tmp.toFile)))
    }
    // every pair once as (hi, lo); self-loops stay here only so their ids
    // get a label
    val oriented = pairs.filter(col("id_a").isNotNull && col("id_b").isNotNull)
      .select(greatest(col("id_a"), col("id_b")).as("hi"),
        least(col("id_a"), col("id_b")).as("lo"))
      .distinct().checkpoint()
    val idType = oriented.schema("hi").dataType
    val edgeSchema = StructType(Seq(StructField("hi", idType), StructField("lo", idType)))
    var edges = oriented.filter(col("hi") =!= col("lo"))
    var prevRdd: Option[org.apache.spark.rdd.RDD[Row]] = None
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      // large-star: edge (v, u), v > u, becomes (v, min Γ⁺(u)); `moved`
      // when u has a smaller neighbour, i.e. a lo is also a hi
      val lows = edges.groupBy(col("hi").as("u")).agg(min(col("lo")).as("m"))
      val large = edges.join(lows, col("lo") === col("u"), "left")
        .select(col("hi"), coalesce(col("m"), col("lo")).as("lo"),
          col("m").isNotNull.as("moved"))
      // small-star: node u and each smaller neighbour v ≠ m point at m, the
      // smallest of them; a hi with two distinct los also moves
      val star = large.groupBy(col("hi"))
        .agg(min(col("lo")).as("m"), max(col("lo")).as("x"), max(col("moved")).as("moved"))
      val next = large.join(star.select(col("hi"), col("m")), "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"), lit(false).as("dirty"))
        .unionByName(star.select(col("hi"), col("m").as("lo"),
          (col("moved") || col("m") =!= col("x")).as("dirty")))
        .groupBy(col("hi"), col("lo")).agg(max(col("dirty")).as("dirty"))
      val acc = sc.longAccumulator(s"cc-dirty-$iter")
      val rdd = next.rdd.map { r =>
        if (r.getBoolean(2)) acc.add(1L)
        Row(r.get(0), r.get(1))
      }
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      if (iter % checkpointEvery == checkpointEvery - 1)
        rdd.checkpoint() // written from the cached partitions after the count job
      rdd.count()
      done = acc.value == 0
      prevRdd.foreach(_.unpersist(blocking = false))
      prevRdd = Some(rdd)
      edges = spark.createDataFrame(rdd, edgeSchema)
      iter += 1
    }
    if (!done) throw new IllegalStateException(
      s"connectedComponents: edges still moving after maxIter = $maxIter " +
        "large-star/small-star rounds; raise maxIter")
    // converged: edges is a star forest, (leaf, component minimum)
    val ids = oriented.select(col("hi").as("id")).union(oriented.select(col("lo"))).distinct()
    val labels = ids.join(edges, col("id") === col("hi"), "left")
      .select(col("id"), coalesce(col("lo"), col("id")).as("component"))
    spark.createDataFrame(labels.rdd, labelSchema(idType))
  }

  /** The dedup endpoint: given the corpus and near-dup components, keep
    * one canonical row per cluster (the smallest id) plus every row that
    * was never in a cluster. A broadcast of the (id, component) relation —
    * tiny relative to the corpus — and one anti-ish filter; the corpus is
    * scanned once. */
  def keepCanonical(df: DataFrame, idCol: String, components: DataFrame): DataFrame = {
    val losers = components.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(broadcast(losers), Seq(idCol), "left_anti")
  }

  /** 32-bit SimHash over distinct tokens: bit b of md5's first 8 hex chars
    * votes +1/-1; bit set where the vote sum is positive (equivalently:
    * where set-bit count s satisfies 2·s > N over N tokens).
    *
    * Shuffle-lean formulation: instead of exploding 32 bit-rows per
    * (doc, token) — 32·|tokens| rows through the first aggregate — explode
    * the 8 hex NIBBLES, histogram them per (doc, position, value) with
    * map-side combine (≤ 8·16 rows per doc survive), and only then expand
    * each histogram cell into its 4 bit contributions. Identical output,
    * ~4× less aggregate input.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String,
              bits: Int = 32): DataFrame = {
    // 60, not 63: the top term is pow(2.0, bits-1).cast("long"), and the
    // non-ANSI cast silently clamps once 2^(bits-1) exceeds Long.MaxValue —
    // corrupt signatures with no error. 60 is the largest multiple of 4
    // whose sign-bit term stays exact, and matches simhashBands' 15-bit
    // shift/mask layout (4 bands × 15 bits).
    require(bits % 4 == 0 && bits <= 60, "bits: multiple of 4, at most 60")
    val nibbles = bits / 4
    val toks = Relational.spread(df, col(idCol))
      .select(col(idCol), PF.tokens(col(textCol)).as("_toks"))
      .select(col(idCol), explode(array_distinct(col("_toks"))).as("tok"))
    // (doc, pos 1..nibbles, nib 0..15) histogram; Σcnt over nib = token
    // count N for every pos, so N never needs its own pass.
    val counts = toks
      .select(col(idCol), substring(md5(col("tok").cast("binary")), 1, nibbles).as("hh"))
      .select(col(idCol), explode(sequence(lit(1), lit(nibbles))).as("pos"), col("hh"))
      .select(col(idCol), col("pos"),
        (instr(lit("0123456789abcdef"), substring(col("hh"), col("pos"), lit(1)))
          .cast("int") - 1).as("nib"))
      .groupBy(col(idCol), col("pos"), col("nib")).agg(count(lit(1)).as("cnt"))
    // bit within nibble: bl 0..3 MSB-first — bit = floor(nib / (8 >> bl)) % 2
    // (variable shifts aren't supported by functions.shiftright).
    val divisor = when(col("bl") === 0, 8).when(col("bl") === 1, 4)
      .when(col("bl") === 2, 2).otherwise(1)
    val bitSums = counts
      .select(col(idCol), col("pos"), col("cnt"), col("nib"),
        explode(sequence(lit(0), lit(3))).as("bl"))
      .select(col(idCol), col("pos"), col("bl"), col("cnt"),
        (col("cnt") * (floor(col("nib") / divisor).cast("int") % 2)).as("contrib"))
      .groupBy(col(idCol), col("pos"), col("bl"))
      .agg(sum(col("contrib")).as("s"), sum(col("cnt")).as("n"))
    // global bit index b = (pos-1)*4 + bl; set iff vote sum 2s-N > 0.
    // Each pow term is a single power of two (exact in double); it must be
    // cast to LONG before summing — a double SUM of >53-bit signatures
    // rounds, and rounds differently per engine.
    bitSums.groupBy(col(idCol))
      .agg(sum(when(col("s") * 2 > col("n"),
          pow(lit(2.0), lit(bits - 1) - ((col("pos") - 1) * 4 + col("bl"))).cast("long"))
        .otherwise(lit(0L)))
        .as("simhash"))
  }

  /** AllPairs/PPJoin candidate generation for an EXACT Jaccard-threshold
    * join at `t = tNum/tDen`: rank each id's distinct tokens rarest-first
    * (global df asc, token asc — one consistent total order), index only
    * the first `sz − ⌈t·sz⌉ + 1` tokens, and self-join on prefix tokens.
    * Complete by pigeonhole: a pair with J ≥ t overlaps in more than
    * (1−t)·|x| tokens, so some common token lands in BOTH prefixes.
    *
    * `positional = true` adds PPJoin's two candidate-time prunes, both
    * still complete:
    *  - SIZE: J ≥ t forces tNum·|x| ≤ tDen·|y| (and symmetrically);
    *  - POSITION: at the FIRST common token (positions pa, pb in the
    *    shared order) the overlap is at most 1 + min(|x|−pa, |y|−pb);
    *    J ≥ t needs overlap ≥ ⌈tNum(|x|+|y|)/(tNum+tDen)⌉, so a pair
    *    where NO shared prefix token satisfies the bound cannot qualify
    *    (the first common token of a qualifying pair is in both
    *    prefixes — else all common tokens sit in the last ⌈t·|x|⌉−1
    *    positions, capping overlap below t·|x| ≤ the threshold).
    *    Keeping a pair iff ∃ a passing shared token therefore never
    *    dismisses a qualifying pair, and on sparse corpora (where two
    *    docs typically share ONE rare token, deep in the smaller doc's
    *    tail) it cuts the verification load well below plain AllPairs.
    *
    * Input: (id, tok) distinct pairs. Output: (id_a, id_b) candidate
    * pairs, id_a < id_b, distinct — verification (exact intersection
    * over full token arrays) stays the caller's. At 100 TB the join
    * shuffles on prefix tokens (rarest tokens → smallest postings); the
    * positional prune is a per-row integer filter BEFORE the distinct,
    * i.e. it shrinks the shuffle, not just the verify. */
  def prefixCandidates(toks: DataFrame, idCol: String, tokCol: String,
                       positional: Boolean,
                       tNum: Int = 3, tDen: Int = 5): DataFrame = {
    require(tNum > 0 && tDen > tNum, s"prefixCandidates: need 0 < $tNum/$tDen < 1")
    val dfs = toks.groupBy(col(tokCol)).agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df").asc, col(tokCol).asc)
    val ranked = toks.join(dfs, Seq(tokCol))
      .select(col(idCol), col(tokCol),
        row_number().over(wDoc).as("rnk"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(idCol))).as("sz"))
    val prefix = ranked
      .filter(col("rnk") <= expr(s"sz - (sz * $tNum + ${tDen - 1}) div $tDen + 1"))
    val raw = prefix.select(col(tokCol), col(idCol).as("id_a"),
        col("rnk").as("pa"), col("sz").as("sza"))
      .join(prefix.select(col(tokCol), col(idCol).as("id_b"),
        col("rnk").as("pb"), col("sz").as("szb")), Seq(tokCol))
      .filter(col("id_a") < col("id_b"))
    val pruned =
      if (!positional) raw
      else raw
        .filter(col("sza") * tNum <= col("szb") * tDen &&
          col("szb") * tNum <= col("sza") * tDen)
        // ub ≥ ⌈v/(tNum+tDen)⌉ ⟺ (tNum+tDen)·ub ≥ v for integer ub
        .filter((lit(1) + least(col("sza") - col("pa"), col("szb") - col("pb")))
          * (tNum + tDen) >= (col("sza") + col("szb")) * tNum)
    pruned.select(col("id_a"), col("id_b")).distinct()
  }
}
