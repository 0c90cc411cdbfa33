package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.{MinHashSignature, Shingles, ParityFunctions => PF}
import graft.operators.Dedup

/** The native shingle and signature kernels against the lambda/explode
  * formulation they replaced, kept here as the reference; under both the
  * interpreted and the generated-code expression paths. */
class MinHashKernelSpec extends SparkSpec {
  import spark.implicits._

  /** The former formulation: `filter`/`transform` lambdas, shingles
    * exploded to rows, signatures as `min` aggregates per id, Jaccard by
    * a co-occurrence join. */
  private object Reference {
    def tokens(text: Column): Column = filter(split(lower(text), " "), t => length(t) > 0)

    def shingleSeq(ts: Column, n: Int): Column = {
      val cnt = size(ts) - (n - 1)
      when(cnt >= 1, transform(sequence(lit(1), cnt), i => array_join(slice(ts, i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
    }

    def shingles(df: DataFrame, n: Int): DataFrame =
      df.select($"id", tokens($"text").as("_toks"))
        .select($"id", explode(array_distinct(shingleSeq($"_toks", n))).as("shingle"))

    def signatures(sh: DataFrame, numHashes: Int): DataFrame = {
      val mins = (0 until numHashes).map { i =>
        min(md5(concat(lit(s"$i:"), $"shingle")).cast("binary")).as(s"m$i")
      }
      sh.groupBy($"id").agg(count(lit(1)).as("sz"), mins: _*)
    }

    def jaccard(pairs: DataFrame, sh: DataFrame, sizes: DataFrame): DataFrame = {
      val common = pairs
        .join(sh.select($"id".as("id_a"), $"shingle"), Seq("id_a"))
        .join(sh.select($"id".as("id_b"), $"shingle".as("shingle_b")), Seq("id_b"))
        .filter($"shingle" === $"shingle_b")
        .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("common"))
      common
        .join(sizes.select($"id".as("id_a"), $"sz".as("sz_a")), Seq("id_a"))
        .join(sizes.select($"id".as("id_b"), $"sz".as("sz_b")), Seq("id_b"))
        .select($"id_a", $"id_b",
          ($"common".cast("double") / ($"sz_a" + $"sz_b" - $"common")).as("jaccard"))
    }

    def minHashDedup(df: DataFrame, threshold: Double): DataFrame = {
      val sh = shingles(df, 3).localCheckpoint()
      val sig = signatures(sh, 8)
      val pairs = Dedup.lshCandidatePairs(Dedup.lshBands(sig, "id", 8, 2), "id")
      jaccard(pairs, sh, sig.select($"id", $"sz")).filter($"jaccard" >= threshold)
    }
  }

  private def samples[A](gen: Gen[A], seeds: Range): Seq[A] =
    seeds.map(i => gen.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  /** Runs `body` once with interpreted expressions and once with generated
    * code only (no silent fallback to the interpreter). */
  private def inBothModes(body: String => Unit): Unit =
    Seq("NO_CODEGEN" -> "false", "CODEGEN_ONLY" -> "true").foreach { case (mode, wholeStage) =>
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }

  // mixed case, accents, emoji (4-byte UTF-8), a tab inside a token; few
  // enough words that shingles repeat within a document
  private val vocab = Seq("a", "b", "the", "Cat", "cat", "ÉTÉ", "été", "naïve", "😀", "x😀y", "ça",
    "a\tb")
  private val text: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.oneOf("", " ", "   ").map(Some(_)),
    2 -> (for { // a repeated phrase: every width n ≤ 8 repeats a shingle
      phrase <- Gen.listOfN(3, Gen.oneOf(vocab))
      times <- Gen.choose(4, 6)
    } yield Some(Seq.fill(times)(phrase).flatten.mkString(" "))),
    10 -> (for {
      k <- Gen.choose(0, 16)
      words <- Gen.listOfN(k, Gen.oneOf(vocab))
      gaps <- Gen.listOfN(k, Gen.oneOf(" ", "  ", "   "))
      lead <- Gen.oneOf("", " ", "  ")
      trail <- Gen.oneOf("", " ", "  ")
    } yield Some(lead + words.indices.map(i => (if (i == 0) "" else gaps(i)) + words(i)).mkString + trail)))

  private def corpus(seed: Int): DataFrame =
    samples(Gen.listOfN(40, text), seed to seed).head.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")

  test("shingle kernel ≡ filter/transform shingles: spaces, nulls, short docs, repeats, UTF-8") {
    inBothModes { mode =>
      (1 to 4).foreach { seed =>
        val docs = corpus(seed)
        Seq(1, 2, 3, 8).foreach { n =>
          val rows = docs.select(
            Reference.shingleSeq(Reference.tokens($"text"), n).as("ref_seq"),
            PF.shingleSeq(PF.tokens($"text"), n).as("seq"),
            array_distinct(Reference.shingleSeq(Reference.tokens($"text"), n)).as("ref"),
            PF.shinglesFromTokens(PF.tokens($"text"), n).as("from_tokens"),
            PF.wordShingles($"text", n).as("from_split"),
            PF.tokens($"text").as("toks"), Reference.tokens($"text").as("ref_toks"))
            .collect()
          assert(rows.exists(r => r.getSeq[String](2).size < r.getSeq[String](0).size),
            s"seed $seed n=$n: no repeated shingle drawn")
          rows.foreach { r =>
            val ctx = s"$mode seed $seed n=$n"
            assert(r.getSeq[String](1) == r.getSeq[String](0), ctx)
            assert(r.getSeq[String](3) == r.getSeq[String](2), ctx)
            assert(r.getSeq[String](4) == r.getSeq[String](2), ctx)
            assert(Option(r.getSeq[String](5)) == Option(r.getSeq[String](6)), ctx)
          }
        }
      }
    }
  }

  test("signature kernel ≡ min(md5(i:shingle)) over exploded rows, per document and via the adapter") {
    def hex(r: org.apache.spark.sql.Row, from: Int, k: Int): Seq[String] =
      (from until from + k).map(i => new String(r.getAs[Array[Byte]](i), "US-ASCII"))
    inBothModes { mode =>
      (1 to 3).foreach { seed =>
        val docs = corpus(seed)
        Seq((1, 8), (3, 8), (8, 3)).foreach { case (n, k) =>
          val ctx = s"$mode seed $seed n=$n k=$k"
          val want = Reference.signatures(Reference.shingles(docs, n), k).collect()
            .map(r => r.getLong(0) -> (r.getLong(1), hex(r, 2, k))).toMap
          assert(want.nonEmpty, ctx)
          val perDoc = Dedup.withSignature(
            Dedup.docShingles(docs, "id", "text", n).filter($"sz" > 0), k)
            .select(($"id" +: $"sz" +: (0 until k).map(i => col(s"m$i"))): _*)
          val adapter = Dedup.minHashSignatures(Dedup.shingles(docs, "id", "text", n), "id", k)
          Seq(perDoc, adapter).foreach { got =>
            assert(got.collect().map(r => r.getLong(0) -> (r.getLong(1), hex(r, 2, k))).toMap == want, ctx)
          }
        }
      }
    }
  }

  test("signature kernel: null and shingle-less arrays give a null signature") {
    inBothModes { mode =>
      val rows = Seq(Some(Seq.empty[String]), None, Some(Seq("a b")))
        .toDF("sh")
        .select(MinHashSignature.minHashSignature($"sh", 2).as("sig"))
        .collect()
      assert(rows.take(2).forall(_.isNullAt(0)), mode)
      assert(rows(2).getSeq[Array[Byte]](0).map(b => new String(b, "US-ASCII")) ==
        Seq("0:a b", "1:a b").map(s => java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString), mode)
    }
  }

  /** Near-duplicate corpora: base documents and copies with a few words
    * replaced, so every threshold sees both kept and dropped pairs, plus
    * documents too short to shingle, which must pair with nothing. */
  private def nearDupCorpus(seed: Int): DataFrame = {
    val words = (0 until 60).map(i => s"w$i") ++ Seq("Été", "😀", "naïve")
    val doc = Gen.listOfN(18, Gen.oneOf(words))
    val gen = for {
      bases <- Gen.listOfN(25, doc)
      edits <- Gen.listOfN(25, Gen.choose(1, 3).flatMap(k =>
        Gen.listOfN(k, Gen.zip(Gen.choose(0, 17), Gen.oneOf(words)))))
      spaces <- Gen.listOfN(50, Gen.oneOf(" ", "  "))
    } yield bases ++ bases.zip(edits).map { case (b, es) =>
      es.foldLeft(b) { case (d, (at, w)) => d.updated(at, w) }
    }
    val texts = samples(gen, seed to seed).head.zipWithIndex
      .map { case (ws, i) => Some(ws.mkString(if (i % 2 == 0) " " else "  ")) }
    (texts ++ Seq(None, Some(""), Some("w1 w2"), Some(" w1  w2 "))).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
  }

  test("minHashDedup ≡ the explode/groupBy/co-occurrence pipeline at thresholds 0.2 and 0.4") {
    (1 to 3).foreach { seed =>
      val docs = nearDupCorpus(seed)
      Seq(0.2, 0.4).foreach { t =>
        val want = Reference.minHashDedup(docs, t).as[(Long, Long, Double)].collect().toSet
        val got = Dedup.minHashDedup(docs, "id", "text", threshold = t)
          .as[(Long, Long, Double)].collect().toSet
        assert(want.size >= 5, s"seed $seed t=$t: too few pairs to compare")
        assert(got == want, s"seed $seed t=$t")
      }
    }
  }

  /** Every operator of an executed plan, AQE stages included. */
  private def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case s: QueryStageExec => s +: operators(s.plan)
    case o => o +: (o.children ++ o.subqueries).flatMap(operators)
  }

  test("the executed minHashDedup plan has no interpreted expression and signs each document once") {
    // a checkpointed input, as pipelines hand it over: over a local
    // relation the optimizer would fold the per-document projections away
    val out = Dedup.minHashDedup(nearDupCorpus(1).localCheckpoint(), "id", "text", threshold = 0.2)
    out.collect()
    val ops = operators(out.queryExecution.executedPlan)
    val fallback = ops.flatMap(_.expressions.flatMap(_.collect { case e: CodegenFallback => e }))
    assert(fallback.isEmpty, s"interpreted expressions: ${fallback.map(_.prettyName).distinct}")
    // each kernel sits in one projection, evaluated once per row there: not
    // inlined into the band expressions, not repeated by a pushed-down filter
    Seq[(String, PartialFunction[Expression, Expression])](
      "signature" -> { case e: MinHashSignature => e },
      "shingle" -> { case e: Shingles => e }).foreach { case (kernel, pick) =>
      val using = ops.map(o => o -> o.expressions.map(_.collect(pick).size).sum).filter(_._2 > 0)
      assert(using.nonEmpty, s"no $kernel kernel in the plan")
      using.foreach { case (o, k) =>
        assert(o.isInstanceOf[ProjectExec] && k == 1, s"${o.nodeName} evaluates the $kernel kernel $k times")
      }
    }
  }
}
