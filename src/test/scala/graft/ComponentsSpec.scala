package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Dedup

/** `Dedup.connectedComponents` has two paths, a driver union-find for
  * small pair sets and large-star/small-star rounds for the rest; both
  * must label every id a non-null pair names with the smallest id of its
  * cluster, in Spark's `min` order, exactly as a plain union-find does. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._
  import JobCount.jobsOf

  private val paths = Seq("driver" -> (1 << 18), "distributed" -> 0)

  private def components(pairs: DataFrame, driverPairs: Int, maxIter: Int = 20) =
    Dedup.components(pairs, driverPairs, maxIter, None, 3)

  /** A plain union-find: each pair merges two trees under the smaller root. */
  private def model[A](pairs: Seq[(A, A)])(implicit ord: Ordering[A]): Map[A, A] = {
    val parent = mutable.Map.empty[A, A]
    def find(x: A): A = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else find(p) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(x => x -> find(x)).toMap
  }

  private def labels(df: DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "one row per id")
    rows.toMap
  }

  /** Edge lists of one graph over nodes 0 until n, relabelled by a random
    * permutation so the cluster minimum sits anywhere in the shape. */
  private def relabel(n: Int, edges: Seq[(Int, Int)]): Gen[Seq[(Long, Long)]] =
    Gen.pick(n, 0 until 10 * n).flatMap(ids => Gen.listOfN(edges.size, Gen.oneOf(true, false))
      .map(_.zip(edges).map { case (flip, (a, b)) =>
        val (x, y) = (ids(a).toLong, ids(b).toLong)
        if (flip) (y, x) else (x, y)
      }))

  private val path: Gen[Seq[(Long, Long)]] =
    Gen.choose(2, 80).flatMap(n => relabel(n, (0 until n - 1).map(i => (i, i + 1))))
  private val star: Gen[Seq[(Long, Long)]] =
    Gen.choose(2, 40).flatMap(n => relabel(n, (1 until n).map(i => (0, i))))
  private val random: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.choose(2, 40)
    m <- Gen.choose(1, 2 * n)
    es <- Gen.listOfN(m, Gen.zip(Gen.choose(0, n - 1), Gen.choose(0, n - 1)))
    g <- relabel(n, es)
  } yield g

  /** Several graphs in disjoint id ranges, plus repeats of some pairs. */
  private val batch: Gen[Seq[(Long, Long)]] = for {
    k <- Gen.choose(4, 10)
    gs <- Gen.listOfN(k, Gen.oneOf(path, star, random))
    pairs = gs.zipWithIndex.flatMap { case (g, i) => g.map { case (a, b) => (a + i * 1000L, b + i * 1000L) } }
    dups <- Gen.someOf(pairs)
    order <- Gen.pick(pairs.size + dups.size, pairs ++ dups)
  } yield order.toSeq

  test("both paths agree with a plain union-find on random graphs, stars and long paths") {
    val fifty = (0L until 49L).map(i => (i, i + 1))
    // a zigzag path 0-100-1-101-…-25: no id has both a smaller and a
    // larger neighbour, so large-star moves nothing in the first round
    // and only small-star's two-neighbour check sees it is not done
    val zigzag = (0L until 25L).flatMap(i => Seq((i, 100 + i), (i + 1, 100 + i)))
    val samples = (1 to 4).map(i => batch.pureApply(Gen.Parameters.default, Seed(7000L + i)))
    (fifty +: zigzag +: samples).foreach { pairs =>
      val df = pairs.toDF("id_a", "id_b").repartition(3)
      val expected = model(pairs)
      paths.foreach { case (name, bound) =>
        assert(labels(components(df, bound)) == expected, s"$name path on ${pairs.size} pairs")
      }
    }
  }

  test("duplicate, reversed, self-loop and null-ended pairs; empty input") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(1), Some(2)), (Some(2), Some(1)), (Some(1), Some(2)), (Some(7), Some(7)),
      (Some(5), Some(5)), (Some(6), Some(5)), (None, Some(3)), (Some(3), Some(4)),
      (Some(8), None), (None, None))
    val df = pairs.toDF("id_a", "id_b")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    paths.foreach { case (name, bound) =>
      // a null end names no row: its pair is ignored, ids 8 and null get no label
      assert(labels(components(df, bound)) ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 5L -> 5L, 6L -> 5L, 7L -> 7L), name)
      val none = components(empty, bound)
      assert(none.schema.map(_.dataType) == Seq(LongType, LongType), name)
      assert(none.count() == 0, name)
    }
  }

  test("Int ids stay IntegerType") {
    val df = Seq((3, 1), (1, 2), (9, 8)).toDF("id_a", "id_b")
    paths.foreach { case (name, bound) =>
      val out = components(df, bound)
      assert(out.schema.map(_.dataType) == Seq(IntegerType, IntegerType), name)
      assert(out.as[(Int, Int)].collect().toMap == Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8), name)
    }
  }

  test("ids with no driver-side order take the distributed path") {
    val df = Seq((3, 1), (1, 2), (9, 8)).toDF("id_a", "id_b")
      .select($"id_a".cast("decimal(10,0)").as("id_a"), $"id_b".cast("decimal(10,0)").as("id_b"))
    val out = Dedup.connectedComponents(df)
    assert(!out.queryExecution.analyzed.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(out.as[(BigDecimal, BigDecimal)].collect().map { case (a, b) => (a.toInt, b.toInt) }.toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 8 -> 8, 9 -> 8))
  }

  test("string ids take Spark's min order (UTF-8 bytes), not String.compareTo") {
    val (fw, emoji) = ("｡", "😀") // "｡" U+FF61, "😀" U+1F600
    assert(emoji.compareTo(fw) < 0, "UTF-16 order puts the emoji first")
    val sparkMin = Seq(emoji, fw).toDF("s").agg(org.apache.spark.sql.functions.min("s")).as[String].head()
    assert(sparkMin == fw, "Spark's min puts U+FF61 first")
    val pairs = Seq((emoji, fw), ("z" + emoji, "z" + fw), ("z" + emoji, "z" + emoji + "z"), ("a", "a"))
    val utf8 = Ordering.by[String, UTF8String](UTF8String.fromString)
    val expected = model(pairs)(utf8)
    assert(expected(emoji) == fw && expected("z" + emoji + "z") == "z" + fw)
    val df = pairs.toDF("id_a", "id_b")
    paths.foreach { case (name, bound) =>
      val out = components(df, bound)
      assert(out.schema.map(_.dataType) == Seq(StringType, StringType), name)
      assert(out.as[(String, String)].collect().toMap == expected, name)
    }
  }

  test("the driver path starts at most one job; the distributed one a job per round") {
    // verified near-dup pairs as a pipeline hands them over: materialized,
    // in the one partition AQE coalesces a small pair set into
    val words = (0 until 12).map(i => s"w$i")
    val docs = (0L until 40L).map { id =>
      val base = words.map(w => s"${w}_${id / 4}")
      (id, (base.updated((id % 4).toInt, s"own$id")).mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = Dedup.minHashDedup(docs, "doc_id", "text").localCheckpoint()
    assert(pairs.rdd.getNumPartitions == 1)
    val expected = model(pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSeq)
    assert(expected.nonEmpty)
    var out: Map[Long, Long] = Map.empty
    val driverJobs = jobsOf { out = labels(components(pairs, 1 << 18)) }
    assert(driverJobs <= 1, s"driver path started $driverJobs jobs")
    assert(out == expected)
    val distributedJobs = jobsOf { labels(components(pairs, 0)): Unit }
    assert(distributedJobs > driverJobs + 2)
  }

  test("the distributed path throws when the round cap stops it") {
    val path = (0L until 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException](components(path, 0, maxIter = 1))
    assert(e.getMessage.contains("maxIter = 1"))
  }
}
