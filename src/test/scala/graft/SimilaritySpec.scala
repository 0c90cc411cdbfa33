package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("hyperplaneBucket: near-identical vectors co-bucket, negations do not") {
    val rng = new scala.util.Random(7)
    val base = Array.fill(64)(rng.nextGaussian())
    val nearDup = base.map(_ * 1.0001 + 1e-7) // cosine ~ 1
    val negated = base.map(-_)                // cosine = -1: all signs flip
    val df = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, negated.toSeq))
      .toDF("id", "v")
    val out = df.select($"id",
        Similarity.hyperplaneBucket($"v", dim = 64).as("bucket"))
      .as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L), "near-duplicate must share the bucket")
    assert(out(1L) == (~out(3L) & 0xffL), "negation flips every sign bit")
    assert(out.values.forall(b => b >= 0 && b < 256))
  }

  test("native QuantizeInt8 is bit-identical to the HOF spelling it replaced") {
    // every ANN consumer is oracle-hash-checked, so the native expression
    // must reproduce round(x / l2Norm(v) * 127).cast(int) EXACTLY —
    // including Spark Round's BigDecimal-HALF-UP ties and the NaN→0 path
    // of a zero vector through a non-ANSI int cast
    val rng = new scala.util.Random(13)
    val vecs = (Seq.fill(200)(Array.fill(64)(rng.nextGaussian() * rng.nextInt(5))) :+
      Array.tabulate(64)(i => (i - 32) * 0.015625)) // exact dyadics → .5 ties
      .zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
    val df = vecs.toDF("id", "v").select($"id", $"v".cast("array<double>").as("v"))
    val hof = df.select($"id",
      transform($"v", x => round(x / sqrt(graft.functions.DotProduct
        .dotProduct($"v", $"v")) * 127).cast("int")).as("q"))
    val native = df.select($"id",
      graft.functions.QuantizeInt8.quantizeInt8($"v").as("q"))
    val expect = hof.as[(Long, Seq[Int])].collect().toMap
    val got = native.as[(Long, Seq[Int])].collect().toMap
    val mismatches = expect.keys.filter(id => expect(id) != got(id)).toSeq.sorted
    assert(mismatches.isEmpty,
      s"native != HOF for ids $mismatches: " +
        mismatches.take(1).map(id => s"${expect(id)} vs ${got(id)}").mkString)
    // divergence by design: under ANSI (Spark 4 default) the HOF spelling
    // THROWS DIVIDE_BY_ZERO on an all-zero vector; the native expression
    // is total and quantizes it to zeros (no such vector exists in the
    // corpus — q195's norm screen proves it — but an operator shouldn't
    // fail a 100 TB job on one degenerate row)
    val zero = Seq((0L, Seq.fill(64)(0.0))).toDF("id", "v")
      .select(graft.functions.QuantizeInt8.quantizeInt8($"v").as("q"))
      .as[Seq[Int]].head()
    assert(zero == Seq.fill(64)(0))
  }

  test("kmeans recovers well-separated blobs with deterministic assignment") {
    // 3 blobs at distinct corners of 4-d space; ids interleave blobs so the
    // smallest-ids init (0,1,2) seeds one centroid per blob
    val pts = (0 until 60).map { i =>
      val blob = i % 3
      val v = Array.tabulate(4) { d =>
        (if (d == blob) 10.0 else 0.0) + ((i * 7 + d * 13) % 5) * 0.1
      }
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "v")
    val (assign, cents) = Similarity.kmeans(pts, k = 3, iterations = 4)
    // perfect separation: each blob lands in exactly one cluster and no
    // cluster holds two blobs → exactly 3 distinct (blob, cluster) pairs
    val pairs = assign.select(($"vec_id" % 3).as("blob"), $"cluster")
      .distinct().collect()
    assert(pairs.length == 3, s"blobs split across clusters: ${pairs.toSeq}")
    val cs = cents.collect()
    assert(cs.length == 3)
    // every centroid sits near one blob corner (dominant axis ≈ 10)
    cs.foreach { r =>
      val c = r.getSeq[Double](1)
      assert(c.max > 9.0 && c.count(_ > 5.0) == 1, s"centroid off-blob: $c")
    }
  }

  test("kmeans keeps k centroids when a cluster empties; rejects bad args") {
    // ids 0 and 1 are IDENTICAL vectors → two identical seed centroids;
    // ties break to the smaller cluster, so cluster 2 empties in iteration
    // 1 and must keep its previous centroid rather than vanish
    val pts = (0 until 20).map { i =>
      val v = if (i <= 1) Seq(1.0, 0.0) else Seq(0.0, 1.0 + (i % 3) * 0.1)
      (i.toLong, v)
    }.toDF("vec_id", "v")
    val (_, cents) = Similarity.kmeans(pts, k = 3, iterations = 3)
    assert(cents.count() == 3, "empty cluster silently dropped")
    intercept[IllegalArgumentException] {
      Similarity.kmeans(pts, k = 3, iterations = 0)
    }
    // a corpus smaller than k must fail loudly, not silently seed < k cells
    intercept[IllegalArgumentException] {
      Similarity.kmeans(pts.limit(2), k = 3, iterations = 1)
    }
  }

  test("q391 CDF-maintained ANN index: erasures flow through the feed (r12)") {
    // the face's own requires pin the strong identity (feed-maintained ≡
    // from-scratch rebuild, both exceptAll directions) and the recall
    // floor; this pins the compliance leg — a vec_id the GDPR delete
    // tombstoned (vec_id % 17 = 0) must appear NOWHERE in the search
    // output, neither as a query nor as a candidate — plus result shape
    val top = SparkEntry.queries("q391_cdf_ann_index")(
      spark, "/root/testdata/sf0.001").collect()
    assert(top.nonEmpty)
    assert(top.forall(r => r.getLong(0) % 17 != 0 && r.getLong(2) % 17 != 0),
      "an erased vector leaked into the maintained index's search output")
    val byQ = top.groupBy(_.getLong(0))
    assert(byQ.values.forall(rs =>
      rs.map(_.getInt(1)).sorted.toSeq == (1 to rs.length)),
      "ranks must be the dense prefix 1..k per query")
    assert(byQ.values.forall(_.length <= 5))
  }

  test("q392 CDF-maintained BM25 index: erasures flow through the feed (r12)") {
    // the face's own requires pin the rebuild identity AND the IVM stats
    // merge (merged partials ≡ full recount); this pins the compliance
    // leg — an erased doc (doc_id % 17 = 0) must never rank — and the
    // top-20 shape
    val top = SparkEntry.queries("q392_cdf_text_index")(
      spark, "/root/testdata/sf0.001").collect()
    assert(top.nonEmpty && top.length <= 20)
    assert(top.forall(_.getLong(0) % 17 != 0),
      "an erased document leaked into the maintained index's ranking")
  }

  test("q396 retrieval metrics: NDCG/RR bounds and gradings hold (r12)") {
    val rows = SparkEntry.queries("q396_retrieval_metrics")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 5)
    for (r <- rows) {
      val (nRel, rr, ndcg) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nRel >= 0 && nRel <= 5, s"n_rel_at_10 out of range: $nRel")
      assert(ndcg > 0.0 && ndcg <= 1.0 + 1e-12,
        s"NDCG@10 must be in (0, 1] vs the ideal ordering, got $ndcg")
      assert(rr == 0.0 || (rr >= 0.1 && rr <= 1.0), s"rr out of range: $rr")
      // a query whose top hit is the true best has rr = 1 exactly; one
      // with no truth doc in the fused top-10 has rr = 0 AND nRel = 0
      assert((rr == 0.0) == (nRel == 0L),
        "rr and n_rel must agree on emptiness")
    }
  }

  test("q397 stream-maintained ANN index: cell state accounts for every live vector (r12)") {
    import org.apache.spark.sql.functions._
    // the face's requires pin the trigger count (one micro-batch per
    // commit) and the rebuild identity; this pins the global accounting:
    // Σ n_vectors = |live corpus| (every vector indexed exactly once,
    // every erased vector gone), ids inside [0, max vec_id], cells ≤ 8
    val rows = SparkEntry.queries("q397_stream_ann_ingest")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val total = emb.count()
    val erased = emb.filter(col("vec_id") % 17 === 0).count()
    assert(rows.map(_.getLong(1)).sum == total - erased,
      "per-cell counts must account for exactly the live corpus")
    assert(rows.forall(r => r.getLong(3) >= 0 && r.getLong(3) % 17 != 0),
      "no cell may hold an erased minimum id")
  }

  test("hyperplaneBucket is a pure map: no shuffle in the plan") {
    val df = spark.range(0, 100)
      .select($"id", array((0 until 64).map(i => (rand(42 + i) - 0.5)): _*).as("v"))
    val bucketed = df.withColumn("bucket", Similarity.hyperplaneBucket($"v", 64))
    val plan = bucketed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"bucketing must not shuffle:\n$plan")
  }

  test("semanticDedup drops the higher id of each within-cluster near-dup pair, keeps cross-direction pairs") {
    val a = Seq(10.0, 0.0, 0.0, 0.0)
    val b = Seq(0.0, 10.0, 0.0, 0.0)
    val data = Seq(
      (0L, a),                              // seed / kept
      (1L, b),                              // seed / kept
      (2L, a.map(_ * 2.0)),                 // cos 1 with id 0 → dropped
      (3L, Seq(7.0, 0.0, 7.0, 0.0)),        // cluster 0, cos .707 < 0.95 → kept
      (4L, b.map(_ * 0.5))                  // cos 1 with id 1 → dropped
    ).toDF("vec_id", "embedding")
    val (marked, pairs) = Similarity.semanticDedup(data, k = 2, thrNum = 19, thrDen = 20)
    val m = marked.select($"vec_id", $"cluster", $"dropped")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(m(0L) == ((0L, false)) && m(2L) == ((0L, true)) && m(3L) == ((0L, false)))
    assert(m(1L) == ((1L, false)) && m(4L) == ((1L, true)))
    val p = pairs.select($"cluster", $"id_a", $"id_b")
      .as[(Long, Long, Long)].collect().toSet
    assert(p == Set((0L, 0L, 2L), (1L, 1L, 4L)))
  }

  test("semanticDedup: AQE splits a hot cluster's pair join (skew=true) without changing the pairs") {
    // Half the vectors share one direction (noise near the int8 step), so
    // one cluster holds about half the corpus; the other half are one-hot
    // vectors over 63 directions. Broadcast joins are off, as for a corpus
    // whose assigned relation is far past broadcast size, and the skew
    // thresholds are lowered to test scale (defaults: 256 MB, factor 5).
    val dim = 64
    val emb = spark.range(0L, 1000L, 1L, 4).select($"id".as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        when($"id" % 2 === 0,
          when(j === 0, 1.0).otherwise(pmod($"id" * 31 + j, lit(7)).cast("double") * 0.001))
        .otherwise(when(j === pmod($"id", lit(dim - 1)) + 1, 1.0).otherwise(0.0)))
        .cast("array<float>").as("embedding"))
    def pairsWith(conf: Seq[(String, String)]) = {
      val keys = conf.map(_._1)
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        val (_, pairs) = Similarity.semanticDedup(emb, k = 8, thrNum = 95, thrDen = 100)
        // collect() drives this frame's own plan, so executedPlan is final
        val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        (rows, pairs.queryExecution.executedPlan.toString)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val atScale = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB")
    val (split, plan) = pairsWith(atScale :+ ("spark.sql.adaptive.skewJoin.enabled" -> "true"))
    val (whole, planOff) = pairsWith(atScale :+ ("spark.sql.adaptive.skewJoin.enabled" -> "false"))
    assert(plan.contains("skew=true"), s"hot cluster's pair join not split:\n$plan")
    assert(!planOff.contains("skew=true"))
    info(s"${split.size} pairs; top clusters ${split.groupBy(_._1).view.mapValues(_.size).toSeq.sortBy(-_._2).take(3)}")
    assert(split.nonEmpty && split == whole)
  }
}
