package graft.plans

import org.apache.spark.{Dependency, OneToOneDependency, Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Deferred staging for operators whose CONSTRUCTION must run Spark jobs
  * — iterative algorithms (q65's label propagation), trained models —
  * where a plain `(spark, dir) => DataFrame` lambda would execute the
  * whole stage at DataFrame-BUILD time (round-3 verdict: q65 spent
  * 1.68 s of its bench figure inside catalog construction).
  *
  * [[LazyStage.defer]] returns a DataFrame over a [[DeferredRDD]]: the
  * thunk does not run when the frame is built, only when the first JOB
  * touches it — Spark resolves an RDD's partitions/dependencies lazily at
  * job submission on the driver, which is exactly the hook. The thunk
  * runs AT MOST ONCE (lazy val; Spark holds the one RDD instance), so
  * repeated actions on the same frame reuse the staged result's plan the
  * way they would any other DataFrame.
  *
  * Cost shape: one extra row re-encode pass at the stage boundary
  * (RDD[Row] -> DataFrame). For the bounded outputs staged operators
  * return (cluster assignments, centroid tables) this is noise; the win
  * is that catalog/plan construction is free and the iterative cost lands
  * on the action that deliberately materializes the stage — the same
  * attribution q47's index build gets via the Store.
  *
  * The deferred frame's logical plan is an opaque ExistingRDD — filters
  * do not push INTO the staged computation. Use it at stage boundaries
  * (the result of an iterative fixpoint), not around plain transforms.
  */
object LazyStage {

  /** A DataFrame whose producing thunk runs on first job, not at build. */
  def defer(spark: SparkSession, schema: StructType)(thunk: () => DataFrame): DataFrame = {
    val rdd: RDD[Row] = new DeferredRDD(spark.sparkContext, () => thunk().rdd)
    spark.createDataFrame(rdd, schema)
  }
}

/** RDD wrapper resolving its target on first partition/dependency
  * request: `getPartitions`/`getDependencies` are only called when a job
  * is submitted over the RDD, so the (driver-side, possibly multi-job)
  * thunk is deferred until then and cached by the lazy val after.
  *
  * The thunk and resolved target are @transient: both live on the driver
  * only (executors reach the data through the serialized dependency
  * chain via firstParent), so tasks never ship the thunk's captured
  * closure — a staged operator may capture non-serializable driver state
  * (clients, loggers) without hitting TaskNotSerializable at
  * materialization. */
private[plans] class DeferredRDD(sc: SparkContext, @transient thunk: () => RDD[Row])
    extends RDD[Row](sc, Nil) {
  @transient private lazy val target: RDD[Row] = thunk()
  override protected def getDependencies: Seq[Dependency[_]] =
    Seq(new OneToOneDependency(target))
  override protected def getPartitions: Array[Partition] = target.partitions
  override def compute(split: Partition, context: TaskContext): Iterator[Row] =
    firstParent[Row].iterator(split, context)
}
