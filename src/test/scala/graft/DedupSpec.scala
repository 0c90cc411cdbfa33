package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** AllPairs/PPJoin prefix-filter contracts (q322's candidate stage). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** A SPARSE fixture with three candidate classes:
    *  - A-pairs (0,1)…(8,9): true near-dups (7/8 tokens shared) — must
    *    survive every prune and verify;
    *  - B-pairs (100,101)…: collide on a rare token at the PREFIX EDGE
    *    of both sides (position 5 of 10), where the positional bound
    *    1+min(|x|−pa, |y|−pb) = 6 < α = 8 proves they can't reach
    *    J ≥ 3/5 — plain AllPairs still generates them;
    *  - X/Y (200,201): a 5-token doc colliding with a 20-token doc on a
    *    shared rare token — killed by the size filter alone.
    * Docs 202/203 are df-boosters for Y's tail and a genuine J = 1 pair. */
  private def sparseToks() = {
    val commons = (0 until 5).map(i => s"common_$i")
    val a = (0 until 10).map { i =>
      val pairId = i / 2
      (i.toLong, (0 until 7).map(j => s"d${pairId}_$j") :+ s"own_$i")
    }
    val b = (0 until 10).map { i =>
      ((100 + i).toLong,
        (0 until 4).map(j => s"u${i}_$j") ++ Seq(s"w_${i / 2}") ++ commons)
    }
    val x = Seq((200L, Seq("sx_0", "sx_1", "ws", commons(0), commons(1))))
    val y = Seq((201L, (0 until 8).map(j => s"sy_$j") ++ Seq("ws") ++
      (0 until 11).map(j => s"bigc_$j")))
    val boosters = Seq(202L, 203L).map(id => (id, (0 until 11).map(j => s"bigc_$j")))
    (a ++ b ++ x ++ y ++ boosters).toDF("doc_id", "toks")
      .select($"doc_id", explode($"toks").as("tok"))
  }

  private def verified(cand: org.apache.spark.sql.DataFrame,
                       toks: org.apache.spark.sql.DataFrame) = {
    val sets = toks.groupBy($"doc_id")
      .agg(sort_array(collect_set($"tok")).as("ts"), count(lit(1)).as("sz"))
    cand
      .join(sets.select($"doc_id".as("id_a"), $"ts".as("ta"), $"sz".as("sza")), Seq("id_a"))
      .join(sets.select($"doc_id".as("id_b"), $"ts".as("tb"), $"sz".as("szb")), Seq("id_b"))
      .select($"id_a", $"id_b",
        size(array_intersect($"ta", $"tb")).cast("long").as("inter"),
        ($"sza" + $"szb" - size(array_intersect($"ta", $"tb"))).as("uni"))
      .filter($"inter" * 5 >= $"uni" * 3)
      .select($"id_a", $"id_b")
  }

  test("positional filter shrinks candidates on a sparse corpus without losing a qualifying pair") {
    val toks = sparseToks().cache()
    val plain = Dedup.prefixCandidates(toks, "doc_id", "tok", positional = false)
    val ppjoin = Dedup.prefixCandidates(toks, "doc_id", "tok", positional = true)
    val (nPlain, nPos) = (plain.count(), ppjoin.count())
    assert(nPos < nPlain,
      s"positional filter must prune candidates on the sparse fixture ($nPos vs $nPlain)")
    // completeness: the VERIFIED output is identical through both paths
    val a = verified(plain, toks).as[(Long, Long)].collect().toSet
    val b = verified(ppjoin, toks).as[(Long, Long)].collect().toSet
    assert(a == b, s"positional filter dismissed qualifying pairs: ${a -- b}")
    // and the fixture's planted near-dups actually qualify
    assert(b.contains((0L, 1L)) && b.contains((2L, 3L)) && b.contains((202L, 203L)),
      s"fixture must contain its planted near-dup pairs, got $b")
    // the prune classes each fired: B-pairs (positional) and X/Y (size)
    // are plain-AllPairs candidates but not PPJoin candidates
    val plainSet = plain.as[(Long, Long)].collect().toSet
    val posSet = ppjoin.as[(Long, Long)].collect().toSet
    assert(plainSet.contains((100L, 101L)) && !posSet.contains((100L, 101L)),
      "positional bound must prune the prefix-edge collision pair")
    assert(plainSet.contains((200L, 201L)) && !posSet.contains((200L, 201L)),
      "size filter must prune the 5-vs-20-token collision pair")
    toks.unpersist()
    ()
  }

  test("connectedComponents fails loudly when the round cap stops it before convergence") {
    // a 50-node path: one component at the default cap on both paths
    // (large-star/small-star needs O(log n) rounds, the driver path none);
    // a cap below that on the distributed path throws
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    for (driverPairs <- Seq(1 << 18, 0)) {
      val comps = Dedup.components(path, driverPairs, maxIter = 20, None, 3)
      assert(comps.count() == 50)
      assert(comps.select("component").distinct().as[Long].collect().toSeq == Seq(0L))
    }
    assert(Dedup.connectedComponents(path).select("component").distinct().count() == 1)
    val e = intercept[IllegalStateException] {
      Dedup.components(path, 0, maxIter = 2, None, 3)
    }
    assert(e.getMessage.contains("maxIter = 2"))
  }

  test("prefixCandidates rejects degenerate thresholds") {
    val toks = Seq((1L, "a")).toDF("doc_id", "tok")
    intercept[IllegalArgumentException] {
      Dedup.prefixCandidates(toks, "doc_id", "tok", positional = true, tNum = 5, tDen = 5)
    }
    ()
  }

  // q398: maximal duplicated-span extraction — cross-doc seeds merge into
  // maximal spans; within-doc self-repeats are excluded by contract.
  test("q398 repeated spans: maximal merge, cross-doc only, exact content md5") {
    val run = (5 to 14).map(i => s"t$i")                       // 10 shared tokens
    val r1 = (0 until 8).map(i => s"r1_$i")                    // 8 shared tokens
    val r2 = (0 until 8).map(i => s"r2_$i")                    // 8 shared tokens
    val x = (0 until 8).map(i => s"x$i")                       // within-doc only
    val docs = Seq(
      // doc 0: run at token positions 5..14 of 20
      0L -> ((0 to 4).map(i => s"a$i") ++ run ++ (15 to 19).map(i => s"a$i")),
      // doc 1: the same run at positions 3..12 of 17
      1L -> ((0 to 2).map(i => s"b$i") ++ run ++ (3 to 6).map(i => s"b$i")),
      // doc 2: an 8-token sequence repeated twice WITHIN itself only
      2L -> (Seq("c0") ++ x ++ Seq("c1") ++ x ++ Seq("c2")),
      // docs 3/4: two DISJOINT shared runs → two spans each
      3L -> (Seq("d0") ++ r1 ++ Seq("d1") ++ r2 ++ Seq("d2")),
      4L -> (Seq("e0", "e1") ++ r1 ++ Seq("e2") ++ r2)
    ).map { case (id, toks) => (id, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val out = graft.queries.DedupQueries.repeatedSpans(spark, "", docs)
      .select($"doc_id", $"span_idx", $"start_tok", $"span_tokens",
        $"n_seeds", $"span_md5")
      .as[(Long, Long, Long, Long, Long, String)].collect().toSeq
    def spansOf(id: Long) = out.filter(_._1 == id).sortBy(_._3)
    // doc 0: one maximal span covering the full 10-token run (3 seeds)
    assert(spansOf(0L).map(t => (t._3, t._4, t._5)) == Seq((5L, 10L, 3L)),
      s"doc 0 spans wrong: ${spansOf(0L)}")
    // doc 1: the same content at its own offset
    assert(spansOf(1L).map(t => (t._3, t._4, t._5)) == Seq((3L, 10L, 3L)),
      s"doc 1 spans wrong: ${spansOf(1L)}")
    // identical content ⇒ identical md5 across docs, and it is THE md5
    val md = java.security.MessageDigest.getInstance("MD5")
    val expected = md.digest(run.mkString(" ").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    assert(spansOf(0L).head._6 == expected && spansOf(1L).head._6 == expected,
      "span_md5 must be the md5 of the space-joined span tokens")
    // doc 2: within-doc repetition alone emits nothing
    assert(spansOf(2L).isEmpty, s"within-doc repeats must not emit: ${spansOf(2L)}")
    // docs 3/4: two disjoint spans each, span_idx ordered by start
    assert(spansOf(3L).map(t => (t._2, t._3, t._4, t._5)) ==
      Seq((1L, 1L, 8L, 1L), (2L, 10L, 8L, 1L)), s"doc 3: ${spansOf(3L)}")
    assert(spansOf(4L).map(t => (t._2, t._3, t._4, t._5)) ==
      Seq((1L, 2L, 8L, 1L), (2L, 11L, 8L, 1L)), s"doc 4: ${spansOf(4L)}")
    ()
  }

  test("positional prefix filter on a Zipf-vocabulary corpus: candidates are a small fraction of all pairs") {
    // The corpus shape of tools/gen_zipf.py: a 10 000-word vocabulary
    // with Zipf(1.05) frequencies and documents of 10..100 words, drawn
    // here from a fixed seed. On it most tokens are rare, so prefix
    // blocking can prune; on the uniform 31-word sf corpora every token
    // is common and candidates are all pairs.
    val vocab = 10000
    val cum = (1 to vocab).map(r => 1.0 / math.pow(r.toDouble, 1.05)).scanLeft(0.0)(_ + _).tail
    val rng = new java.util.Random(9001)
    def word(): String = {
      val u = rng.nextDouble() * cum.last
      val i = cum.search(u).insertionPoint.min(vocab - 1)
      f"w${i + 1}%05d"
    }
    val nDocs = 500L
    val docs = (0L until nDocs).map(id => (id, Seq.fill(10 + rng.nextInt(91))(word()).mkString(" ")))
      .toDF("doc_id", "text")
    val toks = docs.select($"doc_id",
      explode(array_distinct(graft.functions.ParityFunctions.tokens($"text"))).as("tok"))
    val cands = Dedup.prefixCandidates(toks, "doc_id", "tok", positional = true).count()
    val allPairs = nDocs * (nDocs - 1) / 2
    info(s"candidates=$cands of $allPairs pairs")
    // measured: 486 candidate pairs of 124 750 (0.39%)
    assert(cands <= allPairs / 200, s"$cands candidates of $allPairs pairs")
  }
}
