package graft.tools

import graft.{Sessions, Tables}
import org.apache.spark.sql.SparkSession

/** Independent cross-implementation check of the fuzzy-dedup cluster
  * assignment (r13 verdict item 3): q141/q143's ~sf1 verification was
  * "structural by the r8 precedent" because their DuckDB recursive-CTE
  * closure oracle is infeasible at the 10x corpus (>50 min). This tool
  * closes that caveat with a SECOND, algorithmically different closure:
  * the engine computes components by distributed min-label propagation
  * with pointer jumping (DedupQueries.clusterAssignments); this check
  * re-derives them with a classic driver-side WEIGHTED UNION-FIND with
  * path halving over the same confirmed-edge set and asserts the full
  * (doc_id, cluster_id, is_canonical, cluster_size) assignment is
  * byte-identical. The two algorithms share no propagation code — an
  * error in either fixpoint rounds, pointer jumps, checkpoint reuse, or
  * the union-find itself cannot cancel out.
  *
  * BOUNDED BY DESIGN, gate-only: the collected state is the edge list
  * (confirmed near-dup pairs — ~10^3..10^5 at the gate SFs, measured,
  * never corpus^2) and one long per doc. This is a VERIFICATION tool
  * for the ~sf1 gate, not a production path; the hard `require`s below
  * refuse inputs where driver-side verification stops being honest.
  *
  * Usage: runMain graft.tools.ClusterCrossCheck [sfDir]
  * Prints one JSON line; exits nonzero on any mismatch.
  */
object ClusterCrossCheck {

  final case class Result(docs: Long, edges: Long, clusters: Long,
      mismatches: Long)

  /** Run both closures over `dir`'s documents and diff them. */
  def run(spark: SparkSession, dir: String): Result = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)

    // The shared input: confirmed similarity edges (j >= 0.5), exactly
    // the feed fuzzyFullClusters unions into its propagation.
    val edges = graft.operators.DedupQueries
      .lshConfirmedPairs(docs, 0.5)
      .select($"doc_a".as[Long], $"doc_b".as[Long]).collect()
    require(edges.length <= 20000000,
      s"cross-check is a gate tool: ${edges.length} edges exceed the " +
        "driver-verification bound — raise it only with measured memory headroom")

    // Engine side: the real distributed fixpoint (unstored, so a warm
    // Store entry can never vouch for itself).
    val engine = graft.operators.DedupQueries
      .fuzzyClusterFixpoint(docs)
      .select($"doc_id".as[Long], $"cluster_id".as[Long],
        $"is_canonical".as[Boolean], $"cluster_size".as[Long])
      .collect()
    require(engine.length <= 20000000,
      s"cross-check is a gate tool: ${engine.length} docs exceed the bound")

    // Independent side: weighted union-find with path halving.
    val ids = engine.map(_._1)
    val index = ids.zipWithIndex.toMap
    val parent = Array.tabulate(ids.length)(identity)
    val rank = new Array[Int](ids.length)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) += 1 }
      }
    }
    edges.foreach { case (a, b) => union(index(a), index(b)) }
    // canonical label = min doc_id per component (the engine's rule)
    val minOf = scala.collection.mutable.Map[Int, Long]()
    ids.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.getOrElse(r, Long.MaxValue)
      if (ids(i) < cur) minOf(r) = ids(i)
    }
    val sizeOf = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
    ids.indices.foreach { i => val r = find(i); sizeOf(r) += 1L }

    var mismatches = 0L
    engine.foreach { case (docId, clusterId, isCanon, clusterSize) =>
      val r = find(index(docId))
      val expectCluster = minOf(r)
      val ok = clusterId == expectCluster &&
        isCanon == (docId == expectCluster) &&
        clusterSize == sizeOf(r)
      if (!ok) {
        if (mismatches < 10)
          System.err.println(s"[crosscheck] doc $docId: engine " +
            s"($clusterId, $isCanon, $clusterSize) vs union-find " +
            s"($expectCluster, ${docId == expectCluster}, ${sizeOf(r)})")
        mismatches += 1
      }
    }
    Result(engine.length.toLong, edges.length.toLong,
      minOf.size.toLong, mismatches)
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val dir = if (args.nonEmpty) args(0) else
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Sessions.configure(
      SparkSession.builder().master(s"local[$cpus]")
        .appName("graft-cluster-crosscheck"), cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val r = run(spark, dir)
      println(s"""{"metric":"cluster_crosscheck","docs":${r.docs},""" +
        s""""edges":${r.edges},"clusters":${r.clusters},""" +
        s""""mismatches":${r.mismatches},"sf":"$dir"}""")
      if (r.mismatches > 0) sys.exit(1)
    } finally spark.stop()
  }
}
