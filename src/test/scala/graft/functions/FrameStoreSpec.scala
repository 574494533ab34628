package graft.functions

import java.nio.file.{Files, Path}

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Store lifecycle: build-once / load-thereafter identity, content
  * fingerprint staleness, version orphaning, corrupt-entry fallback,
  * publish races and the per-kind eviction bound. */
class FrameStoreSpec extends SparkSpec {

  private def tmpDir(): Path =
    Files.createTempDirectory("graft-store-spec")

  /** One lookup keyed by `base`'s content fingerprint. */
  private def stored(kind: String, version: Int, base: DataFrame,
      cols: Seq[String], dir: String)(build: => DataFrame): DataFrame =
    Store.loadOrBuild(spark, kind, version, Store.fingerprint(base))(
      cols, dir = dir)(build)

  private def base(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  private def rowsOf(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("second call loads the persisted frame instead of rebuilding") {
    val dir = tmpDir().toString
    val b = base(Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    var builds = 0
    def build: DataFrame = {
      builds += 1
      b.groupBy("k").agg(sum("v").cast("long").as("s"))
    }
    val first = stored("bt_pairs", 1, b,
      Seq("k", "s"), dir)(build)
    val again = stored("bt_pairs", 1, b,
      Seq("k", "s"), dir)(build)
    assert(builds == 1, "second call must not rebuild")
    assert(first.collect().map(_.toSeq).toSet ==
      again.collect().map(_.toSeq).toSet)
  }

  test("content change invalidates: a different base rebuilds") {
    val dir = tmpDir().toString
    val b1 = base(Seq((1L, 10L)))
    val b2 = base(Seq((1L, 11L)))
    var builds = 0
    def mk(src: DataFrame): DataFrame = { builds += 1; src }
    stored("bt_pairs", 1, b1, Seq("k", "v"), dir)(mk(b1))
    stored("bt_pairs", 1, b2, Seq("k", "v"), dir)(mk(b2))
    assert(builds == 2, "changed content must miss the cache")
  }

  test("fingerprint is order-independent: permuted base hits the cache") {
    val rows = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L))
    val f1 = Store.fingerprint(base(rows))
    val f2 = Store.fingerprint(base(rows.reverse).repartition(3))
    assert(f1 == f2)
  }

  test("uniform edit to an even number of duplicate rows invalidates") {
    // ADVICE r12: the base projection legitimately holds duplicate
    // rows, and a uniform update to an EVEN number of duplicates
    // cancels in bit_xor and preserves the count — XOR+count alone
    // served a stale derived frame. The wrapping-sum limb sees
    // multiplicity: 2*h(old) != 2*h(new).
    val dir = tmpDir().toString
    val b1 = base(Seq((1L, 10L), (1L, 10L)))
    val b2 = base(Seq((1L, 11L), (1L, 11L)))
    val f1 = Store.fingerprint(b1)
    val f2 = Store.fingerprint(b2)
    assert(f1._1 == f2._1 && f1._2 == f2._2,
      "premise: count and XOR are blind to this edit")
    assert(f1._3 != f2._3, "sum limb must distinguish the edit")
    var builds = 0
    def mk(src: DataFrame): DataFrame = { builds += 1; src }
    stored("bt_pairs", 1, b1, Seq("k", "v"), dir)(mk(b1))
    stored("bt_pairs", 1, b2, Seq("k", "v"), dir)(mk(b2))
    assert(builds == 2, "even-duplicate edit must miss the cache")
  }

  test("version bump orphans older entries") {
    val dir = tmpDir().toString
    val b = base(Seq((1L, 10L)))
    var builds = 0
    def mk: DataFrame = { builds += 1; b }
    stored("bt_pairs", 1, b, Seq("k", "v"), dir)(mk)
    stored("bt_pairs", 2, b, Seq("k", "v"), dir)(mk)
    assert(builds == 2)
  }

  test("wrong-shape persisted entry is rebuilt, never trusted") {
    val dir = tmpDir().toString
    val b = base(Seq((1L, 10L), (2L, 20L)))
    // persist a frame under kind=t v1 whose columns do NOT match what
    // the consumer expects — must be treated as absent
    stored("bt_pairs", 1, b, Seq("k", "v"), dir)(b)
    var rebuilt = false
    val out = stored("bt_pairs", 1, b,
      Seq("k", "v", "extra"), dir) {
      rebuilt = true
      b.withColumn("extra", lit(0L))
    }
    assert(rebuilt, "column mismatch must fall back to rebuild")
    assert(out.columns.sorted.toSeq == Seq("extra", "k", "v"))
  }

  test("q66 fuzzy clusters: store hit equals the real fixpoint, value for value") {
    // r12 verdict item 4: q66/q141/q143/q70 share the cluster
    // assignment through the Store instead of each re-running the
    // LSH fixpoint. The cached frame must equal the uncached build
    // exactly (the assignment is a pure function of (doc_id, text)).
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fresh = graft.operators.DedupQueries
      .fuzzyClusterFixpoint(docs)
    val stored = graft.operators.DedupQueries.fuzzyFullClusters(docs)
    val key = (df: DataFrame) => df
      .select("doc_id", "cluster_id", "is_canonical", "cluster_size")
      .collect().map(_.toSeq).toSet
    assert(key(fresh) == key(stored))
    assert(key(fresh).nonEmpty)
  }

  test("q237 pair matrix: loaded equals built, value for value") {
    val dir = tmpDir().toString
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
    val proj = li.select(col("l_orderkey"), col("l_partkey"),
      col("l_quantity"))
    val cols = Seq("u", "v", "w_uv", "w_vu")
    val built = stored("bt_pairs", 1, proj,
      cols, dir)(graft.operators.AgreementQueries.btPairs(li))
    val loaded = stored("bt_pairs", 1, proj,
      cols, dir)(sys.error("must not rebuild"))
    val key = (df: DataFrame) => df.select(cols.map(col): _*)
      .collect().map(_.toSeq).toSet
    assert(key(built) == key(loaded))
    assert(key(built).nonEmpty)
  }

  test("concurrent builders of one key converge to one winner, no torn read") {
    // r13 verdict item 7: two racing builders of the same (kind,
    // version, fingerprint) must BOTH return the complete frame, and
    // the store must end with exactly one published entry and zero
    // in-flight tmp residue — the Store's validated publish resolves
    // the race; a lost race is swallowed only after the survivor
    // validates, so a torn entry can never become permanent.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    val b = base((1L to 200L).map(i => (i, i * 10L)))
    val expect = (1L to 200L).map(i => (i, i * 10L)).toSet
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val fs = (1 to 2).map { _ =>
      Future {
        gate.await()
        stored("xrace", 1, b,
          Seq("k", "v"), dir.toString)(b)
      }
    }
    fs.map(Await.result(_, 180.seconds)).foreach { df =>
      assert(rowsOf(df) == expect, "racing reader saw a torn frame")
    }
    val names = {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector
      finally l.close()
    }
    assert(names.count(_.startsWith("xrace_v")) == 1,
      s"exactly one published entry expected, saw: $names")
    assert(!names.exists(_.contains(".tmp-")), s"tmp residue: $names")
  }

  test("eviction bound: at most defaultKeep entries per kind survive") {
    // r13 verdict item 7: rolled data snapshots publish new
    // fingerprints into the same family; the store must stay bounded.
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    (1 to Store.keep + 2).foreach { i =>
      val b = base(Seq((i.toLong, i * 10L)))
      stored("kmv", 1, b, Seq("k", "v"),
        dir.toString)(b)
      Thread.sleep(15) // distinct mtimes so age ranking is deterministic
    }
    // a sibling kind must be untouched by kmv's pruning
    stored("ivf", 1, base(Seq((9L, 90L))),
      Seq("k", "v"), dir.toString)(base(Seq((9L, 90L))))
    val names = {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toVector
      finally l.close()
    }
    assert(names.count(_.startsWith("kmv_v")) <= Store.keep,
      s"family exceeded the eviction bound: $names")
    assert(names.exists(_.startsWith("ivf_v")),
      "pruning one family must not touch another")
    // the just-published (newest) entry always survives eviction
    val last = base(Seq((Store.keep + 2L, (Store.keep + 2) * 10L)))
    stored("kmv", 1, last, Seq("k", "v"),
      dir.toString)(sys.error("newest entry must have survived eviction"))
  }

  test("a publish deletes the entries of kinds outside Store.kinds, and only those") {
    import scala.jdk.CollectionConverters._
    val dir = tmpDir()
    stored("ivf", 1, base(Seq((1L, 10L))), Seq("k", "v"), dir.toString)(base(Seq((1L, 10L))))
    val orphan = dir.resolve("fuzzy_clusters_clean_v1_fp11dbbd25f6db7ed2_fs3c0ffee_n500")
    val notAnEntry = dir.resolve("notes_v1")
    Seq(orphan, notAnEntry).foreach(d => Files.write(Files.createDirectories(d).resolve("part"), Array[Byte](1)))
    stored("kmv", 1, base(Seq((2L, 20L))), Seq("k", "v"), dir.toString)(base(Seq((2L, 20L))))
    val names = {
      val l = Files.list(dir)
      try l.iterator().asScala.map(_.getFileName.toString).toSet
      finally l.close()
    }
    assert(!names(orphan.getFileName.toString), s"orphan entry left: $names")
    assert(names(notAnEntry.getFileName.toString), s"a non-store directory was deleted: $names")
    assert(names.count(n => n.startsWith("ivf_v") || n.startsWith("kmv_v")) == 2, names.toString)
    intercept[IllegalArgumentException](stored("fuzzy_clusters_clean", 1, base(Seq((3L, 30L))),
      Seq("k", "v"), dir.toString)(base(Seq((3L, 30L)))))
  }

  test("eviction is LRU: a LOADED entry outlives younger unused publishes") {
    // Without the load-touch, a probe run publishing a few throwaway
    // fingerprints would evict the hottest entry in the family (q47's
    // bench-critical index) purely by being younger than its PUBLISH
    // time — loads must count as use.
    val dir = tmpDir()
    val hot = base(Seq((1L, 10L)))
    stored("ivf", 1, hot, Seq("k", "v"),
      dir.toString)(hot)
    Thread.sleep(15)
    (2 to Store.keep).foreach { i =>
      // re-LOAD the hot entry (the session-start pattern), then publish
      // a fresh throwaway fingerprint after it
      stored("ivf", 1, hot, Seq("k", "v"),
        dir.toString)(sys.error("hot entry must load, not rebuild"))
      Thread.sleep(15)
      val cold = base(Seq((i.toLong, i * 100L)))
      stored("ivf", 1, cold, Seq("k", "v"),
        dir.toString)(cold)
      Thread.sleep(15)
    }
    // bound reached; one more unused publish must evict a THROWAWAY,
    // never the hot entry
    val straw = base(Seq((99L, 990L)))
    stored("ivf", 1, straw, Seq("k", "v"),
      dir.toString)(straw)
    stored("ivf", 1, hot, Seq("k", "v"),
      dir.toString)(sys.error("hot (recently loaded) entry was evicted"))
  }
}
