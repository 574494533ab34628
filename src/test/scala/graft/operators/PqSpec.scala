package graft.operators

import graft.SparkSpec
import graft.expressions.{PqAdcScores, PqEncodePacked}
import graft.functions.ProductQuantizer
import org.apache.spark.sql.functions._

/** Product-quantization semantics (q268): packed-code layout, encode
  * argmin + tie/null contracts, ADC = dot(query, reconstruction),
  * trainer determinism, the certified catalog query against the exact
  * baseline, and the join-free scoring plan. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  test("bitsPerCode: ceil(log2(ksub)) with a floor of 1") {
    assert(PqEncodePacked.bitsPerCode(1) == 1)
    assert(PqEncodePacked.bitsPerCode(2) == 1)
    assert(PqEncodePacked.bitsPerCode(3) == 2)
    assert(PqEncodePacked.bitsPerCode(16) == 4)
    assert(PqEncodePacked.bitsPerCode(17) == 5)
    assert(PqEncodePacked.bitsPerCode(256) == 8)
  }

  test("validate rejects ragged codebooks and packed-code overflow") {
    val ok = Array.fill(8)(Array.fill(16)(Array(0.0, 0.0)))
    PqEncodePacked.validate(ok) // no throw
    val ragged = Array(Array.fill(16)(Array(0.0)), Array.fill(8)(Array(0.0)))
    intercept[IllegalArgumentException](PqEncodePacked.validate(ragged))
    // 17 subspaces x 4 bits = 68 > 64
    val wide = Array.fill(17)(Array.fill(16)(Array(0.0)))
    intercept[IllegalArgumentException](PqEncodePacked.validate(wide))
  }

  test("encode: hand case — argmin per subspace on the UNIT vector, packed little-endian") {
    // dim 4, m=2, ksub=2 (1 bit per code). Unit vector of (3,4,0,0)/5.
    val books = Array(
      Array(Array(1.0, 0.0), Array(0.6, 0.8)), // sub 0: code 1 is exact
      Array(Array(0.0, 0.0), Array(1.0, 1.0))) // sub 1: code 0 is exact
    val df = Seq((1L, Array(3.0, 4.0, 0.0, 0.0), 5.0)).toDF("id", "v", "nrm")
    val got = df.select(
      ProductQuantizer.pqEncode(col("v"), col("nrm"), books).as("c"))
      .as[Long].head()
    // sub0 code 1 at bit 0, sub1 code 0 at bit 1
    assert(got == 1L)
  }

  test("encode: equidistant centroids tie to the LOWER code index") {
    val books = Array(Array(Array(1.0), Array(-1.0))) // |0-1| == |0-(-1)|
    val df = Seq((1L, Array(0.0), 1.0)).toDF("id", "v", "nrm")
    val got = df.select(
      ProductQuantizer.pqEncode(col("v"), col("nrm"), books).as("c"))
      .as[Long].head()
    assert(got == 0L)
  }

  test("encode: zero/NaN norm or null vector -> null; width mismatch throws loudly") {
    val books = Array(Array(Array(1.0, 0.0)))
    val df = Seq(
      (1L, Some(Array(1.0, 0.0)), 0.0),
      (2L, Some(Array(1.0, 0.0)), Double.NaN),
      (3L, Option.empty[Array[Double]], 1.0)).toDF("id", "v", "nrm")
    val got = df.select(
      ProductQuantizer.pqEncode(col("v"), col("nrm"), books).as("c"))
      .collect().map(r => r.isNullAt(0))
    assert(got.forall(identity))
    val bad = Seq((1L, Array(1.0, 0.0, 0.0), 1.0)).toDF("id", "v", "nrm")
    val e = intercept[Exception] {
      bad.select(ProductQuantizer.pqEncode(col("v"), col("nrm"), books)).collect()
    }
    assert(e.getMessage != null)
  }

  test("ADC scores = dot(query, reconstruction) for every query, seeded random case") {
    val rnd = new scala.util.Random(7)
    val m = 4; val ksub = 8; val dsub = 3
    val books = Array.fill(m)(Array.fill(ksub)(Array.fill(dsub)(rnd.nextGaussian())))
    val qs = Array.fill(5)(Array.fill(m * dsub)(rnd.nextGaussian()))
    val tables = qs.map(ProductQuantizer.adcTable(_, books))
    // a packed code picking centroid (s*3+1) % ksub in subspace s
    var packed = 0L
    val bits = PqEncodePacked.bitsPerCode(ksub)
    val codes = Array.tabulate(m)(s => (s * 3 + 1) % ksub)
    codes.zipWithIndex.foreach { case (c, s) => packed |= c.toLong << (s * bits) }
    val got = PqAdcScores.compute(packed, tables, ksub)
    qs.zipWithIndex.foreach { case (q, qi) =>
      var expect = 0.0
      var off = 0
      codes.zipWithIndex.foreach { case (c, s) =>
        val cent = books(s)(c)
        var j = 0
        while (j < dsub) { expect += q(off + j) * cent(j); j += 1 }
        off += dsub
      }
      assert(math.abs(got.getDouble(qi) - expect) < 1e-12,
        s"query $qi: got ${got.getDouble(qi)} expected $expect")
    }
  }

  test("trainer: deterministic across calls, right shape, finite centroids") {
    val corpus = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = ProductQuantizer.train(corpus, "vec_id", "v", m = 8, ksub = 16)
    val b = ProductQuantizer.train(corpus, "vec_id", "v", m = 8, ksub = 16)
    assert(a.length == 8 && a.forall(_.length == 16) &&
      a.forall(_.forall(_.length == 8)))
    assert(a.flatten.flatten.forall(x => !x.isNaN && !x.isInfinite))
    assert(a.map(_.map(_.toSeq).toSeq).toSeq == b.map(_.map(_.toSeq).toSeq).toSeq,
      "two trains over the same corpus must be bit-identical")
  }

  test("encoded corpus: every unpacked code is in range and stable across runs") {
    val corpus = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm2(col("v")))
    val books = ProductQuantizer.train(corpus, "vec_id", "v", m = 8, ksub = 16)
    val coded = corpus.select(col("vec_id"),
      ProductQuantizer.pqEncode(col("v"), col("nrm"), books).as("codes"))
    val got = coded.as[(Long, Long)].collect().sortBy(_._1)
    assert(got.nonEmpty)
    got.foreach { case (_, packed) =>
      (0 until 8).foreach { s =>
        val code = (packed >>> (s * 4)) & 15L
        assert(code >= 0 && code < 16)
      }
      assert((packed >>> 32) == 0L, "bits above m*bitsPerCode must be clear")
    }
    val again = coded.as[(Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq == again.toSeq)
  }

  test("q268: emits the exact top-5 with the recall floor EARNED at sf0.001") {
    val q268 = graft.SparkEntry.queries("q268_ann_pq_adc")(spark, sf0001)
      .collect()
    val exact = graft.SparkEntry.queries("q38_ann_bruteforce_topk")(spark, sf0001)
      .select("qid", "vid", "rnk").as[(Long, Long, Long)].collect()
      .map { case (q, v, r) => (q, r) -> v }.toMap
    assert(q268.length == exact.size)
    q268.foreach { r =>
      val qid = r.getLong(0); val rnk = r.getLong(1)
      assert(r.getLong(2) == exact((qid, rnk)),
        s"row ($qid,$rnk): emitted vid ${r.getLong(2)} != exact ${exact((qid, rnk))}")
      assert(r.getBoolean(3), "recall floor not earned")
    }
  }

  test("certification terminates at recall 1.0 when the floor demands it (C escalates to N)") {
    val exact = graft.SparkEntry.queries("q38_ann_bruteforce_topk")(spark, sf0001)
      .select(col("qid"), col("rnk"), col("vid"))
    val (_, nHit, nExact) = SimilarityQueries.pqTopKCertified(
      spark, sf0001, exact, floorTimes10 = 10L)
    assert(nExact > 0)
    assert(nHit == nExact,
      s"a 1.0 floor must drive the depth to N and reproduce the exact top-5 ($nHit/$nExact)")
  }

  test("joined PqAdcScore equals the multi-table PqAdcScores element for every query") {
    val rnd = new scala.util.Random(11)
    val m = 8; val ksub = 16
    val tables = Array.fill(6)(Array.fill(m * ksub)(rnd.nextGaussian()))
    (1 to 50).foreach { _ =>
      var packed = 0L
      (0 until m).foreach(s => packed |= rnd.nextInt(ksub).toLong << (s * 4))
      val multi = PqAdcScores.compute(packed, tables, ksub)
      tables.zipWithIndex.foreach { case (t, q) =>
        val single = graft.expressions.PqAdcScore.compute(
          packed, new org.apache.spark.sql.catalyst.util.GenericArrayData(
            t.map(java.lang.Double.valueOf)), m, ksub)
        assert(single.doubleValue() == multi.getDouble(q),
          s"query $q: joined $single != multi ${multi.getDouble(q)}")
      }
    }
  }

  test("joined PqAdcScore: a table width that is not the exact m*ksub layout throws loudly") {
    val bad = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill(17)(java.lang.Double.valueOf(0.0)))
    intercept[IllegalArgumentException](
      graft.expressions.PqAdcScore.compute(0L, bad, 1, 16))
    // divisible-but-wrong: 64 entries is 4 x 16 but NOT the declared
    // 8 x 16 layout — the silent-garbage case the exact check closes
    val divisible = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array.fill(64)(java.lang.Double.valueOf(0.0)))
    intercept[IllegalArgumentException](
      graft.expressions.PqAdcScore.compute(0L, divisible, 8, 16))
  }

  test("q269: emits the exact top-5 with the recall floor EARNED at sf0.001") {
    val q269 = graft.SparkEntry.queries("q269_ann_ivfpq")(spark, sf0001)
      .collect()
    val exact = graft.SparkEntry.queries("q38_ann_bruteforce_topk")(spark, sf0001)
      .select("qid", "vid", "rnk").as[(Long, Long, Long)].collect()
      .map { case (q, v, r) => (q, r) -> v }.toMap
    assert(q269.length == exact.size)
    q269.foreach { r =>
      val qid = r.getLong(0); val rnk = r.getLong(1)
      assert(r.getLong(2) == exact((qid, rnk)),
        s"row ($qid,$rnk): emitted vid ${r.getLong(2)} != exact ${exact((qid, rnk))}")
      assert(r.getBoolean(3), "recall floor not earned")
    }
  }

  test("q269 certification terminates at recall 1.0 when the floor demands it (both knobs escalate to their caps)") {
    val exact = graft.SparkEntry.queries("q38_ann_bruteforce_topk")(spark, sf0001)
      .select(col("qid"), col("rnk"), col("vid"))
    val (_, nHit, nExact) = SimilarityQueries.ivfpqTopKCertified(
      spark, sf0001, exact, floorTimes10 = 10L)
    assert(nExact > 0)
    assert(nHit == nExact,
      s"a 1.0 floor must drive nProbe to k and C to N, reproducing the exact top-5 ($nHit/$nExact)")
  }

  test("plan: encode + ADC scoring is join-free and the full query has no cartesian/BNLJ beyond the exact baseline") {
    val corpus = graft.Tables.embeddings(spark, sf0001).select(
      col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm2(col("v")))
    val books = ProductQuantizer.train(corpus, "vec_id", "v", m = 8, ksub = 16)
    val tables = Array(Array.fill(8 * 16)(0.0))
    val scoring = corpus
      .select(ProductQuantizer.pqEncode(col("v"), col("nrm"), books).as("codes"))
      .select(posexplode(ProductQuantizer.pqAdcScores(col("codes"), tables, 8, 16)))
    val p = scoring.queryExecution.executedPlan.toString()
    // the ONLY exchange admitted is the Tables-layer keyed scan
    // repartition (r16) directly over the embeddings scan; encode and
    // ADC scoring sit above it and must add no shuffle and no join.
    // Re-tighten together with PlanChecksSpec's three r16 asserts once
    // that repartition becomes data-derived.
    assert(!p.contains("Join"), "PQ scoring must be join-free:\n" + p)
    val exchanges = "Exchange".r.findAllIn(p).length -
      "REPARTITION_BY_NUM".r.findAllIn(p).length
    assert(exchanges == 0,
      s"PQ scoring added $exchanges exchange(s) beyond the scan repartition:\n$p")
    val lines = p.linesIterator.toVector
    val aboveRepart = lines
      .take(lines.lastIndexWhere(_.contains("REPARTITION_BY_NUM")) max 0)
      .mkString("\n")
    assert(!aboveRepart.contains("Exchange"),
      "PQ scoring must be a narrow projection over the scan:\n" + p)
    val full = graft.SparkEntry.queries("q268_ann_pq_adc")(spark, sf0001)
    val fp = full.queryExecution.executedPlan.toString()
    // the exact baseline's theta-join broadcasts (the q38 shape); the PQ
    // candidate path itself must add no cartesian product
    assert(!fp.contains("CartesianProduct"), fp)
  }
}
