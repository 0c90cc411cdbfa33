package graft

import graft.operators.Sketches

class SketchesSpec extends SparkSpec {
  import spark.implicits._

  test("bloom: no false negatives ever; an overloaded filter shows false positives") {
    val members = (0L until 50L).toDF("key")
    // m=64 bits with 50 keys × 3 hashes is deliberately saturated — false
    // positives are guaranteed, false negatives still impossible
    val bloom = Sketches.bloomBuild(members, "key", m = 64, k = 3)
    val probe = (0L until 200L).toDF("key")
    val out = Sketches.bloomMightContain(probe, "key", bloom, 64, 3, "pass")
      .as[(Long, Boolean)].collect().toMap
    assert((0L until 50L).forall(out(_)), "member failed the filter: false negative")
    val fps = (50L until 200L).count(out(_))
    assert(fps > 0, "saturated 64-bit filter must show false positives")
    assert(fps < 150, "some non-member must still be rejected at k=3")
  }

  test("bloom over an empty member set rejects everything") {
    val bloom = Sketches.bloomBuild(Seq.empty[Long].toDF("key"), "key", m = 256, k = 4)
    val out = Sketches.bloomMightContain((0L until 20L).toDF("key"), "key", bloom, 256, 4, "pass")
      .as[(Long, Boolean)].collect()
    assert(out.length == 20 && out.forall(!_._2))
  }

  test("bloom positions are stable and within [0, m)") {
    val pos = (0L until 100L).toDF("key")
      .select(org.apache.spark.sql.functions.explode(
        Sketches.bloomPositions($"key", 4096, 7)).as("p"))
      .as[Long].collect()
    assert(pos.length == 700 && pos.forall(p => p >= 0 && p < 4096))
  }

  test("hll: the estimate of a union of per-part sketches is not the direct estimate") {
    // GraftMaterializedViews refuses to serve any sketch-derived output
    // from stored partials because DataSketches switches HIP → composite
    // estimation on union, so the number depends on merge structure. The
    // input is fixed: 8 range partitions, 3 rows per uid, 30 parts.
    import org.apache.spark.sql.functions._
    val sizes = Seq(100, 1000, 5000, 50000)
    val est = sizes.map { n =>
      val df = spark.range(0L, n * 3L, 1L, 8)
        .select(($"id" % 30).as("part"), ($"id" % n).as("uid"))
      val direct = df.agg(hll_sketch_estimate(hll_sketch_agg($"uid"))).head().getLong(0)
      val unioned = df.groupBy($"part").agg(hll_sketch_agg($"uid").as("sk"))
        .agg(hll_sketch_estimate(hll_union_agg($"sk"))).head().getLong(0)
      info(s"n=$n direct=$direct unionOfParts=$unioned")
      (n, direct, unioned)
    }
    assert(est.exists { case (_, d, u) => d != u },
      s"direct and union-of-parts estimates agree at every size: $est")
  }
}
