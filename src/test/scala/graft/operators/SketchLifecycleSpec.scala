package graft.operators

import graft.SparkSpec
import graft.functions.Store
import org.apache.spark.sql.functions._

/** q211 sketch lifecycle: the refresh identity on the real fixture,
  * the membership-aware refresh signal (unchanged buckets genuinely
  * ride the persisted v1 partials at sf0.001), and the `kmv` Store
  * entry's staleness/atomic-publish contract on hand data.
  */
class SketchLifecycleSpec extends SparkSpec {
  import spark.implicits._

  /** q211's lookup shape: the (g, hv) stream keys a one-file table. */
  private def kmv(h: org.apache.spark.sql.DataFrame, dir: String)(
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
    Store.loadOrBuild(spark, "kmv", 1, Store.fingerprint(h))(
      Seq("g", "hv"), dir = dir)(build(h).coalesce(1))

  test("refresh identity holds and unchanged buckets exist at sf0.001") {
    val rows = WarehouseQueries.sketchLifecycle(spark, sf0001)
      .select(col("g"), col("changed"), col("n_v1"), col("n_v3"),
        col("partials_match"))
      .as[(Long, Boolean, Long, Long, Boolean)].collect()
    assert(rows.length == 11) // 10 buckets + the g = -1 merged row
    assert(rows.forall(_._5), "a refreshed partial diverged from full recompute")
    val per = rows.filter(_._1 >= 0)
    assert(per.exists(_._2), "fixture has no changed bucket")
    // the membership-aware signal leaves update-only buckets unchanged
    // at sf0.001 (inserts land in g 5-9, the one delete in g 7)
    assert(per.exists(r => !r._2 && r._3 > 0),
      "no unchanged bucket — the keep-v1-partials path is untested")
    val g = rows.find(_._1 == -1L).get
    assert(g._2 && g._3 > 0 && g._4 > 0)
  }

  test("SketchStore: build-once, load-thereafter, stale key rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("sketchstore").toString
    val h = Seq((0L, 5L), (0L, 9L), (1L, 3L)).toDF("g", "hv")
    var builds = 0
    def build(df: org.apache.spark.sql.DataFrame) = { builds += 1; df }
    val a = kmv(h, dir)(build)
      .as[(Long, Long)].collect().sorted
    assert(builds == 1 && a.toSeq == Seq((0L, 5L), (0L, 9L), (1L, 3L)))
    val b = kmv(h, dir)(build)
      .as[(Long, Long)].collect().sorted
    assert(builds == 1, "second call must hit the persisted table")
    assert(b.toSeq == a.toSeq)
    // content change -> new fingerprint -> rebuild, old entry untouched
    val h2 = Seq((0L, 5L), (0L, 9L), (1L, 4L)).toDF("g", "hv")
    val c = kmv(h2, dir)(build)
      .as[(Long, Long)].collect().sorted
    assert(builds == 2 && c.toSeq == Seq((0L, 5L), (0L, 9L), (1L, 4L)))
    assert(java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .count() == 2)
  }

  test("SketchStore: a torn persisted entry is rejected and repaired") {
    val dir = java.nio.file.Files.createTempDirectory("sketchstore").toString
    val h = Seq((2L, 7L), (3L, 1L)).toDF("g", "hv")
    // discover the entry path by building once, then corrupt it
    kmv(h, dir)(identity)
    val entry = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .findFirst().get()
    Store.deleteRecursively(entry)
    java.nio.file.Files.createDirectories(entry) // empty dir = torn write
    var builds = 0
    val repaired = kmv(h, dir)(df => { builds += 1; df })
      .as[(Long, Long)].collect().sorted
    assert(builds == 1, "torn entry must trigger rebuild")
    assert(repaired.toSeq == Seq((2L, 7L), (3L, 1L)))
    // and the repaired entry is loadable again without building
    kmv(h, dir)(df => { builds += 1; df }).collect()
    assert(builds == 1)
  }
}
