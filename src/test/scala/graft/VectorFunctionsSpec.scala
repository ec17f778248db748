package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("cosine_sim computes fused cosine (codegen path)") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f), -1.0),
      (Array(3.0f, 4.0f), Array(3.0f, 4.0f), 1.0),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f), 0.0) // zero norm → 0
    ).toDF("a", "b", "want")
    val got = df.select(VectorFunctions.cosine_sim($"a", $"b").as("c"), $"want")
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-7))
  }

  test("cosine_sim interpreted eval matches codegen") {
    val rows = Seq((Array(0.3f, -0.7f, 0.2f), Array(0.1f, 0.9f, -0.4f)))
    val df = rows.toDF("a", "b")
    val code = df.select(VectorFunctions.cosine_sim($"a", $"b")).head.getDouble(0)
    // force interpreted projection via filter-free collect on RDD map
    val e = graft.functions.CosineSimilarity(
      org.apache.spark.sql.GraftExpressionBridge.expression($"a"),
      org.apache.spark.sql.GraftExpressionBridge.expression($"b"))
    val (a, b) = rows.head
    val interp = e.nullSafeEval(
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
      org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      .asInstanceOf[Double]
    assert(code == interp)
  }

  test("minhash_signature: identical inputs → identical signatures; monotone under union") {
    val df = Seq(
      (1L, "aa"), (1L, "bb"), (1L, "cc"),
      (2L, "aa"), (2L, "bb"), (2L, "cc"),
      (3L, "aa"), (3L, "bb"), (3L, "cc"), (3L, "dd")
    ).toDF("id", "sh")
    val sigs = df.groupBy("id")
      .agg(VectorFunctions.minhash_signature($"sh", 16).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L)) // same set → same signature
    // superset signature is element-wise <= (min over more values)
    sigs(3L).zip(sigs(1L)).foreach { case (s3, s1) => assert(s3 <= s1) }
    assert(sigs(1L).length == 16)
  }

  test("minhash_signature equals the family's plain SQL form slot for slot") {
    // the formula the DuckDB oracles state (MinHashSignature.minsSql),
    // written as plain Spark SQL over md5_prefix60 with p = 2^31 − 1
    val p = 2147483647L
    val k = 16
    val df = Seq(
      (1L, ""), (1L, "é 中 ß"), (1L, "aa bb cc"),
      (2L, "ß"), (2L, "中文 字 é"),
      (3L, ""), (3L, "plain ascii words"), (3L, "aa bb cc")
    ).toDF("id", "sh")
    val seeds = spark.range(k).selectExpr("id AS seed",
      s"1 + md5_prefix60(concat('a:', CAST(id AS STRING))) % ${p - 1} AS a",
      s"md5_prefix60(concat('b:', CAST(id AS STRING))) % $p AS b")
    val ab = seeds.collect().map(r => (r.getLong(1), r.getLong(2)))
    // headroom: a ∈ [1, p−1], b ∈ [0, p) and h < p, so a·h + b < 2^62
    // + 2^31 — exact BIGINT in both engines
    assert(ab.forall { case (a, b) => a >= 1 && a <= p - 1 && b >= 0 && b < p })
    assert(ab.map(_._1).distinct.length == k) // k distinct permutations
    val plain = df.crossJoin(seeds)
      .groupBy("id", "seed")
      .agg(expr(s"min((a * (md5_prefix60(sh) % $p) + b) % $p)").as("mh"))
      .groupBy("id")
      .agg(expr("transform(array_sort(collect_list(struct(seed, mh))), x -> x.mh)")
        .as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agg = df.groupBy("id")
      .agg(VectorFunctions.minhash_signature($"sh", k).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(plain.keySet == Set(1L, 2L, 3L))
    assert(agg == plain)
    assert(agg.values.flatten.forall(v => v >= 0 && v < p))
  }

  test("hyperplane_bucket: codegen matches interpreted eval; weights centered") {
    val vecs = Seq(
      Tuple1(Array(1.0f, -2.0f, 0.5f, 3.0f)),
      Tuple1(Array(-1.0f, 2.0f, -0.5f, -3.0f)),
      Tuple1(Array(0.0f, 0.0f, 0.0f, 0.0f)))
    val df = vecs.toDF("v")
    val buckets = df.select(
      VectorFunctions.hyperplane_bucket($"v", 8).as("b")).collect().map(_.getInt(0))
    // interpreted path must agree with the codegen'd projection
    val e = graft.functions.HyperplaneLshBucket(
      org.apache.spark.sql.GraftExpressionBridge.expression($"v"), 8)
    vecs.map(_._1).zip(buckets).foreach { case (arr, b) =>
      val interp = e.nullSafeEval(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(arr))
        .asInstanceOf[Int]
      assert(interp == b)
      assert(b >= 0 && b < 256)
    }
    // weights land in the centered range, with both signs represented
    val w = graft.functions.HyperplaneLsh.weights(8, 64).flatten
    assert(w.forall(x => x >= -0.4995 && x <= 0.4995))
    assert(w.exists(_ < 0) && w.exists(_ > 0))
    // all-zero vector: every dot is 0 → every sign bit set
    assert(buckets(2) == 255)
  }

  test("md5_band_codes: fast-sign shortcut agrees with the decimal fold") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // the all-zero vector drives every plane dot to exactly 0.0 —
    // inside the 1e-6 window, so the BigDecimal fallback decides and
    // must call the tie non-negative (sign bit set) for every plane
    val zero = graft.functions.Md5Planes
      .codes(ArrayData.toArrayData(Array.fill(16)(0.0f)), 2, 4)
      .toIntArray()
    assert(zero.toSeq == Seq(15, 15))
    // generic vectors: expression path (codegen'd projection) agrees
    // with direct kernel eval, codes stay within rowsPerBand bits
    val vecs = Seq(
      Tuple1(Array(1.0f, -2.0f, 0.5f, 3.0f)),
      Tuple1(Array(-1.0f, 2.0f, -0.5f, -3.0f)))
    val viaDf = vecs.toDF("v").select(
      VectorFunctions.md5_band_codes($"v", 4, 4).as("c"))
      .collect().map(_.getSeq[Int](0))
    vecs.map(_._1).zip(viaDf).foreach { case (arr, c) =>
      val direct = graft.functions.Md5Planes
        .codes(ArrayData.toArrayData(arr), 4, 4).toIntArray().toSeq
      assert(direct == c.toSeq)
      assert(c.forall(x => x >= 0 && x < 16))
    }
  }

  test("md5_prefix60 is bit-identical to the conv(substring(md5)) SQL chain") {
    // the exact house expression every md5 pipeline used before r19;
    // includes empty string, unicode, long strings, and colon-seeded
    // minhash-shaped inputs
    val rows = Seq("", "a", "0:the quick brown fox", "äöü≠", "x" * 500) ++
      (1 to 200).map(i => s"$i:shingle number $i with words")
    val df = rows.toDF("s")
    val got = df.selectExpr(
      "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS old",
      "md5_prefix60(s) AS neo").collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"mismatch: ${r.getLong(0)} vs ${r.getLong(1)}"))
    // null in → null out, like the chain
    val n = Seq[Option[String]](None).toDF("s")
      .selectExpr("md5_prefix60(s)").head
    assert(n.isNullAt(0))
    // non-string argument is an analysis error, not byte reinterpretation
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq(1L).toDF("x").selectExpr("md5_prefix60(x)").collect()
    }
  }

  test("md5_prefix120 halves are bit-identical to the two conv(substring(md5)) chains") {
    val rows = Seq("", "a", "some forty-character substring window!!", "äöü") ++
      (1 to 200).map(i => s"window text number $i padded to length")
    val got = rows.toDF("s").selectExpr(
      "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) AS gh_old",
      "CAST(conv(substring(md5(s), 16, 15), 16, 10) AS BIGINT) AS gh2_old",
      "md5_prefix120(s)[0] AS gh_new",
      "md5_prefix120(s)[1] AS gh2_new").collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(2), s"gh mismatch on $r")
      assert(r.getLong(1) == r.getLong(3), s"gh2 mismatch on $r")
    }
  }

  test("minhash_signature is partitioning-independent (partial agg merge)") {
    val data = (1 to 500).map(i => (i % 7L, s"shingle_$i"))
    val s1 = data.toDF("id", "sh").repartition(1).groupBy("id")
      .agg(VectorFunctions.minhash_signature($"sh", 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val s9 = data.toDF("id", "sh").repartition(9).groupBy("id")
      .agg(VectorFunctions.minhash_signature($"sh", 8).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(s1 == s9)
  }
}
