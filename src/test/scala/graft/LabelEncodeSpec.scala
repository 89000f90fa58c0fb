package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Pins the q_labelprop order-isomorphic long encode (r18): the
  * label-prop tie-break is min over label STRING order, so the encode
  * must be a strictly order-preserving injection from the decorated
  * "c:<key>" / "p:<key>" id space into longs, with an exact decode.
  * Property-checked over random kinds and keys spanning 0..10^17-1 —
  * including the zero-extension prefix ties ("1" vs "10" vs "100") the
  * +length term exists for — and the refusal of longer keys. */
class LabelEncodeSpec extends SparkSpec {

  private val keyGen: Gen[Long] = Gen.oneOf(
    Gen.chooseNum(0L, 99L),                  // short keys: prefix ties
    Gen.oneOf(1L, 10L, 100L, 1000L, 19L, 2L, 20L, 21L, 9L, 90L),
    Gen.chooseNum(0L, 99999999999999999L))   // full 17-digit range
  private val nodeGen: Gen[(Boolean, Long)] =
    for { p <- Gen.oneOf(false, true); k <- keyGen } yield (p, k)

  private def str(p: Boolean, k: Long): String = (if (p) "p:" else "c:") + k

  test("encode is order-isomorphic to the decorated string order; decode is exact") {
    val cases = Gen.listOfN(300, Gen.zip(nodeGen, nodeGen)).sample.get
    val df = spark.createDataFrame(cases.map { case ((pa, ka), (pb, kb)) =>
      (pa, ka, pb, kb)
    }).toDF("pa", "ka", "pb", "kb")
    val out = df.select(
      when(col("pa"), Queries.lpEncode(col("ka"), isPart = true))
        .otherwise(Queries.lpEncode(col("ka"), isPart = false)).as("ea"),
      when(col("pb"), Queries.lpEncode(col("kb"), isPart = true))
        .otherwise(Queries.lpEncode(col("kb"), isPart = false)).as("eb"),
      col("pa"), col("ka"), col("pb"), col("kb"))
      .withColumn("da", Queries.lpDecode(col("ea")))
      .withColumn("db", Queries.lpDecode(col("eb")))
      .collect()
    out.zip(cases).foreach { case (r, ((pa, ka), (pb, kb))) =>
      val (ea, eb) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (str(pa, ka), str(pb, kb))
      assert(r.getString(6) == sa, s"decode($sa)")
      assert(r.getString(7) == sb, s"decode($sb)")
      assert((ea < eb) == (sa < sb) && (ea == eb) == (sa == sb),
        s"order($sa, $sb): enc=$ea/$eb")
    }
  }

  test("a key longer than 17 digits is refused, not truncated into a collision") {
    // rpad would cut both keys to the same 17 digits and merge them
    val df = spark.range(1).select(
      lit(123456789012345678L).as("a"), lit(123456789012345679L).as("b"))
    val e = intercept[Exception] {
      df.select(Queries.lpEncode(col("a"), isPart = false),
        Queries.lpEncode(col("b"), isPart = true)).collect()
    }
    assert(e.getMessage.contains("longer than 17 digits"), e.getMessage)
    // 17 digits is still in range
    val ok = spark.range(1)
      .select(Queries.lpEncode(lit(99999999999999999L), isPart = false)).head()
    assert(!ok.isNullAt(0))
  }

  test("labelPropagation over encoded longs decodes to the string-keyed result") {
    import graft.operators.Graph
    // random bipartite co-purchase-shaped graph, three rounds — the
    // exact q_labelprop posture at toy scale
    val edges = Gen.listOfN(120,
      Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 30L))).sample.get.distinct
    val sdf = spark.createDataFrame(edges.map { case (c, p) =>
      ("c:" + c, "p:" + p)
    }).toDF("a", "b")
    val ldf = spark.createDataFrame(edges).toDF("ck", "pk")
      .select(Queries.lpEncode(col("ck"), isPart = false).as("a"),
        Queries.lpEncode(col("pk"), isPart = true).as("b"))
    val want = Graph.labelPropagation(sdf, "a", "b", 3)
      .select(col("node"), col("lbl")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val got = Graph.labelPropagation(ldf, "a", "b", 3)
      .select(Queries.lpDecode(col("node")).as("node"),
        Queries.lpDecode(col("lbl")).as("lbl")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == want)
  }
}
