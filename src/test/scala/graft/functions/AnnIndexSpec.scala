package graft.functions

import graft.SparkSpec
import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scale-parameterization contract for the IVF index build (VERDICT r2
  * next-round #2): the distributed Lloyd trainer must handle the
  * k ≈ sqrt(N) cell counts a real deployment needs — far past the
  * driver-local trainer's documented ceiling — and the index it produces
  * must buy recall through cluster locality at a ~5% probe budget, not
  * through scan fraction. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  test("chooseK follows sqrt(N) with the cap; chooseNProbe is 5% of cells") {
    assert(AnnIndex.chooseK(0) == 1)
    assert(AnnIndex.chooseK(100) == 10)
    assert(AnnIndex.chooseK(1000000) == 1000)
    // 100 TB of 64-dim embeddings ~ 2e11 vectors -> sqrt ~ 447k, capped
    assert(AnnIndex.chooseK(200000000000L) == 65536)
    assert(AnnIndex.chooseNProbe(256) == 13)
    assert(AnnIndex.chooseNProbe(16) == 1)
    assert(AnnIndex.chooseNProbe(1) == 1)
    // never more probes than cells
    assert(AnnIndex.chooseNProbe(3, scanFraction = 1.0) == 3)
    // corpus-aware budget: candidate floor (~250 rows) rules at demo
    // scale, the 5% rule rules at corpus scale
    assert(AnnIndex.chooseNProbeFor(22, 500) == 11)     // 250/500 of 22 cells
    assert(AnnIndex.chooseNProbeFor(316, 100000) == 16) // pure 5%
    assert(AnnIndex.chooseNProbeFor(65536, 200000000000L) == 3277) // pure 5%
    assert(AnnIndex.chooseNProbeFor(4, 2) == 4)         // clamped to k
    // small-corpus scan floor: sub-10k corpora probe >= 30% of cells
    // (r3 regression: 13% of 45 cells measured recall@5 = 0.48 at sf0.1)
    assert(AnnIndex.chooseNProbeFor(45, 2000) == 14)    // ceil(45 * 0.30)
    assert(AnnIndex.chooseNProbeFor(100, 9999) == 30)   // floor still binds
    assert(AnnIndex.chooseNProbeFor(100, 10000) == 5)   // ...and releases at 10k
  }

  test("index store: miss trains + persists, hit loads without retraining, content change invalidates") {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ann-index-spec").toString
    val corpus = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val fp = Store.fingerprint(corpus)
    assert(fp._1 == corpus.count())
    // q47's lookup at test size; the StoreEvents delta is the miss count
    def trained(k: Int) = {
      val e0 = StoreEvents.count
      val cents = graft.operators.SimilarityQueries.centroidsStored(
        corpus, fp, k, iterations = 3, dir = dir)
      (cents, StoreEvents.count - e0)
    }

    val (built, builds1) = trained(8)
    assert(builds1 == 1, "first call must be a build miss")
    assert(built.length == 8)

    val (loaded, builds2) = trained(8)
    assert(builds2 == 0, "second call must load the persisted index")
    // parquet round-trips doubles bit-exactly
    assert(loaded.map(_.toSeq).toSeq == built.map(_.toSeq).toSeq)

    // a different k fails the dense-cells check -> miss
    val (_, buildsK) = trained(4)
    assert(buildsK == 1, "a different k must not reuse the k=8 index")

    // content change flips the fingerprint -> different key -> miss
    val shifted = corpus.select((col("vec_id") + 1).as("vec_id"), col("v"))
    val fp2 = Store.fingerprint(shifted)
    assert(fp2._1 == fp._1 && fp2 != fp, "id shift must change the fingerprint, not the count")

    // fingerprint is partition-layout independent (commutative aggregate)
    assert(Store.fingerprint(corpus.repartition(7)) == fp,
      "repartitioning must not perturb the fingerprint")
  }

  test("staleness contract: corpus mutation retrains, row reorder reuses") {
    // The two directions of the order-independent-fingerprint claim, as
    // LOAD-OR-TRAIN behavior (not just fingerprint equality): a real
    // deployment must never serve an index for a corpus that changed,
    // and must never retrain because parquet happened to scan in a
    // different order.
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "ann-stale-spec").toString
    val corpus = graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def builds(df: org.apache.spark.sql.DataFrame) = {
      val e0 = StoreEvents.count
      graft.operators.SimilarityQueries.centroidsStored(
        df, Store.fingerprint(df), k = 8, iterations = 3, dir = dir)
      StoreEvents.count - e0
    }
    assert(builds(corpus) == 1, "fresh store must train")

    // mutation: one element of ONE vector changes -> fingerprint miss ->
    // retrain (a reused index would silently serve the pre-mutation corpus)
    val mutated = corpus.select(col("vec_id"),
      when(col("vec_id") === 7,
        transform(col("v"), x => x + lit(0.25))).otherwise(col("v")).as("v"))
    assert(builds(mutated) == 1, "a mutated corpus must miss the cache and retrain")

    // reorder: same rows, reversed sort + different partitioning ->
    // fingerprint HIT -> the trained index is reused without a rebuild
    val reordered = corpus.orderBy(col("vec_id").desc).repartition(5)
    assert(Store.fingerprint(reordered) == Store.fingerprint(corpus),
      "row order and partition layout must not perturb the content key")
    assert(builds(reordered) == 0, "a reordered-but-identical corpus must reuse the index")
  }

  test("driver trainer refuses k past its sample ceiling with a clear error") {
    val tiny = spark.range(64).select(col("id").as("vec_id"),
      array(Seq(cos(col("id").cast("double")), sin(col("id").cast("double"))): _*).as("v"))
    val e = intercept[IllegalArgumentException] {
      AnnIndex.trainCentroids(tiny, "vec_id", "v", k = 200)
    }
    assert(e.getMessage.contains("k-means"))
  }

  test("distributed Lloyd: k=256 on a 100k clustered corpus, recall@5 >= 0.6 at a <=5% probe budget") {
    val dim = 32
    val nClusters = 256
    val n = 100000
    // 256 well-separated unit centers + per-vector Gaussian noise — the
    // cluster structure real embedding corpora have and IVF exploits.
    // Seeded driver-side RNG: deterministic test data.
    val centers: Array[Array[Double]] = {
      val r = new scala.util.Random(42)
      Array.fill(nClusters) {
        val v = Array.fill(dim)(r.nextGaussian())
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / nrm)
      }
    }
    val corpus = spark.range(n).map { i =>
      val r = new scala.util.Random(i * 7919 + 13)
      val c = centers((i % nClusters).toInt)
      (i, Array.tabulate(dim)(j => c(j) + 0.05 * r.nextGaussian()))
    }.toDF("vec_id", "v")
      .withColumn("nrm", norm2(col("v")))
      .cache()
    try {
      val k = AnnIndex.chooseK(corpus.count()) // sqrt(100k) ~ 316; prove 256 exactly
      assert(k >= 256, s"chooseK(100k)=$k should demand >= 256 cells")
      val cents = AnnIndex.trainCentroidsDistributed(
        corpus, "vec_id", "v", k = nClusters, iterations = 5)
      assert(cents.length == nClusters)
      assert(cents.forall(c => math.abs(math.sqrt(c.map(x => x * x).sum) - 1.0) < 1e-9),
        "centroids must come back L2-normalized")

      val queries = corpus.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
      def top5(cand: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
        val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vid"))
        cand.withColumn("rnk", row_number().over(w)).where(col("rnk") <= 5)
          .select("qid", "vid").as[(Long, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
      }
      val exact = top5(corpus.join(broadcast(queries), col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("vid"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))

      val nProbe = 12 // 12/256 = 4.7% of cells — the <=5% budget
      val assigned = corpus.withColumn(
        "cell", element_at(nearestCells(col("v"), cents, 1), 1))
      val probes = queries.withColumn(
        "cell", explode(nearestCells(col("qv"), cents, nProbe)))
      val ivf = top5(assigned.join(probes, Seq("cell"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("vid"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cos")))

      val hits = exact.map { case (q, ex) =>
        ivf.getOrElse(q, Seq.empty).count(ex.toSet)
      }.sum
      val recall = hits.toDouble / (exact.size * 5)
      info(f"k=$nClusters nProbe=$nProbe (${100.0 * nProbe / nClusters}%.1f%% of cells) recall@5 = $recall%.3f")
      assert(recall >= 0.6, f"recall@5 $recall%.3f < 0.6 at a 4.7%% probe budget")
    } finally { corpus.unpersist(); () }
  }
}
