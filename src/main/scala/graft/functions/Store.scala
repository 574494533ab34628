package graft.functions

import java.nio.file.{FileSystemException, Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one persisted store for expensive derived frames: build once per
  * content snapshot, publish to parquet, and load in every later
  * session. Callers: q237's pair matrix (`bt_pairs`), the q66/q70
  * cluster assignments (`fuzzy_clusters`, `fuzzy_clusters_clean`),
  * q211's KMV partials (`kmv`) and the q47/q269 IVF centroids (`ivf`).
  *
  * Key. An entry is addressed by (kind, version, fingerprint) and lives
  * in `<root>/<kind>_v<version>_fp<xor>_fs<sum>_n<count>`. The
  * fingerprint ([[fingerprint]]) is ORDER-INDEPENDENT, so partition
  * layout cannot perturb it, and a realistic edit of the base
  * projection invalidates the entry. XOR alone was blind to a uniform
  * edit of an EVEN number of duplicate rows (it cancels and keeps the
  * count); the wrapping sum sees multiplicity, so defeating all three
  * limbs takes an engineered multiset collision. The fingerprint cannot
  * see code: a caller bumps `version` when the derived shape or build
  * algebra changes, which orphans the older entries.
  *
  * Publish. A build is written to a tmp sibling unique per pid, thread
  * and instant, then atomically renamed into place, so readers only
  * ever see complete entries. A lost publish race is swallowed only
  * when the surviving entry validates; otherwise ours replaces it, so a
  * torn entry can never become permanent. After a publish, the family
  * (`<kind>_v*`, all fingerprints and versions) is pruned to [[keep]]
  * entries, least recently used first; a load counts as use.
  *
  * Validation. A load checks the expected column set plus the caller's
  * `check`; an entry failing either (older shape, torn write, bad
  * content) is treated as absent and rebuilt, never trusted.
  *
  * Ledger. Every build (a miss that ran real work) is recorded in
  * [[StoreEvents]] under its kind, the same label
  * [[graft.StoreWarmup]] warms it by.
  */
object Store {

  /** Entries kept per kind family. Families are code-bounded (one per
    * kind), so a long-lived root holds at most keep * |kinds| entries
    * however many data snapshots roll through it. */
  val keep: Int = 4

  /** The root directory of `kind`'s entries, a deployment path: the
    * sketch and index kinds keep their historical roots, every derived
    * frame shares the frame root. Defaults sit under the working
    * directory's `.graft/` (gitignored). */
  def root(kind: String): String = kind match {
    case "kmv" => sys.env.getOrElse("SPARK_GRAFT_SKETCH_DIR", ".graft/sketch-partials")
    case "ivf" => sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", ".graft/ann-index")
    case _ => sys.env.getOrElse("SPARK_GRAFT_FRAME_DIR", ".graft/frame-store")
  }

  /** Order-independent content fingerprint of `base`: (row count,
    * bit_xor of xxhash64 over all columns, wrapping sum of the same
    * hashes). One combinable scan; XOR and long addition are both
    * commutative and associative, so partitioning cannot perturb
    * either limb. Public because a caller may need the row count
    * before the lookup (ivf sizes k from it); pass the result on to
    * [[loadOrBuild]] so the base is scanned once. */
  def fingerprint(base: DataFrame): (Long, Long, Long) = {
    val h = xxhash64(base.columns.map(col).toSeq: _*)
    val r = base.agg(count(lit(1)), coalesce(bit_xor(h), lit(0L)),
      coalesce(sum(h), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** Load the `kind` entry of shape `version` for the content
    * fingerprint `fp` if a valid one is persisted under `dir`, else run
    * `build`, publish it and return the published copy. Hit and miss
    * return identical values from one physical source. `expectCols` is
    * the entry's column set; `check` is any further validation the
    * caller needs. The build thunk owns the layout (`coalesce(1)` for a
    * k-row table, natural partitioning for a large frame). */
  def loadOrBuild(spark: SparkSession, kind: String, version: Int,
      fp: (Long, Long, Long))(expectCols: Seq[String],
      check: DataFrame => Boolean = _ => true,
      dir: String = root(kind))(build: => DataFrame): DataFrame = {
    val (n, x, s) = fp
    val path = Paths.get(dir, s"${kind}_v${version}_fp${java.lang.Long.toHexString(x)}" +
      s"_fs${java.lang.Long.toHexString(s)}_n$n")
    def valid(p: Path) = load(spark, p, expectCols, check)
    valid(path).getOrElse {
      val t0 = System.nanoTime()
      val built = build
      publish(path, built)(valid(path).nonEmpty)
      StoreEvents.record(kind, (System.nanoTime() - t0) / 1e9)
      prune(path, s"${kind}_v")
      valid(path).getOrElse(built)
    }
  }

  /** A valid persisted entry -> Some(frame), LRU-touched; absent,
    * unreadable or failing validation -> None. */
  private def load(spark: SparkSession, path: Path, expectCols: Seq[String],
      check: DataFrame => Boolean): Option[DataFrame] =
    if (!Files.isDirectory(path)) None
    else Try {
      val df = spark.read.parquet(path.toString)
      require(df.columns.sorted.toSeq == expectCols.sorted && check(df),
        s"store entry $path failed validation")
      touch(path)
      df
    }.toOption

  /** Write `frame` to a tmp sibling and rename it to `path`. Race
    * detection must catch more than FileAlreadyExistsException: a
    * POSIX rename(2) onto an existing non-empty directory under
    * ATOMIC_MOVE surfaces as the GENERIC FileSystemException (ENOTEMPTY
    * is not mapped to a subclass), so the guard is "any
    * FileSystemException while the target exists". Any other failure
    * propagates; the tmp sibling is always removed. */
  private def publish(path: Path, frame: DataFrame)(survivorValid: => Boolean): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.resolveSibling(path.getFileName.toString +
      s".tmp-${ProcessHandle.current.pid}-${Thread.currentThread().getId}-${System.nanoTime()}")
    try {
      frame.write.parquet(tmp.toString)
      try moveInto(tmp, path)
      catch {
        case _: FileSystemException if Files.exists(path) =>
          if (!survivorValid) {
            deleteRecursively(path)
            try moveInto(tmp, path)
            catch { case _: FileSystemException if Files.exists(path) => () }
          }
      }
    } finally deleteRecursively(tmp)
  }

  /** Atomic rename where the file system supports it, a plain move
    * otherwise (loads validate, so a torn move is rebuilt, never
    * trusted). */
  private def moveInto(tmp: Path, path: Path): Unit =
    try Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException => Files.move(tmp, path)
    }

  private[graft] def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.deleteIfExists(f); () })
    }

  /** Mark an entry used, so [[prune]]'s newest-first ranking is LRU: a
    * hot entry loaded every session but published once must outlive
    * younger throwaway publishes. Best-effort: a failed touch only
    * weakens the ranking. */
  private def touch(path: Path): Unit =
    try Files.setLastModifiedTime(path,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    catch { case _: Throwable => () }

  /** After publishing `kept`, delete all but the newest keep-1 other
    * entries of its family (never in-flight tmp siblings). Safe under
    * races: a reader whose entry vanishes mid-load fails validation and
    * rebuilds, so eviction can cost a rebuild, never a wrong result.
    * Best-effort: IO failures are swallowed, the publish already
    * succeeded. */
  private def prune(kept: Path, family: String): Unit =
    try {
      val others = Using.resource(Files.list(kept.getParent))(_.iterator().asScala
        .filter { p =>
          val name = p.getFileName.toString
          Files.isDirectory(p) && name.startsWith(family) &&
            !name.contains(".tmp-") && name != kept.getFileName.toString
        }.toVector)
      others.sortBy(p => -Try(Files.getLastModifiedTime(p).toMillis).getOrElse(0L))
        .drop(keep - 1).foreach(p => Try(deleteRecursively(p)))
    } catch { case _: java.io.IOException => () }
}

/** Process-wide ledger of [[Store]] builds (misses that ran real work),
  * as (kind, build seconds). Bench and the benchmark warm every kind
  * before the clock starts and snapshot [[count]] around each timed
  * shot, so a residual in-shot build shows as its own figure instead of
  * silently inflating a query's time. Bounded at 4096 retained entries;
  * the monotone counter keeps window deltas right past the cap.
  */
object StoreEvents {

  final case class Build(kind: String, sec: Double)

  private val maxEntries = 4096
  private val lock = new Object
  private var entries = Vector.empty[Build]
  private var total = 0L

  private[functions] def record(kind: String, sec: Double): Unit =
    lock.synchronized {
      if (entries.length < maxEntries) entries = entries :+ Build(kind, sec)
      total += 1
    }

  /** Monotone count of builds recorded so far — snapshot before and
    * after a timed region; a delta > 0 means the region paid builds. */
  def count: Long = lock.synchronized(total)

  /** Ledger entries from index `from` (a prior [[count]]) to now.
    * Entries past the cap are not retained (the [[count]] delta is). */
  def since(from: Long): Seq[Build] = lock.synchronized {
    if (from >= entries.length) Seq.empty
    else entries.drop(math.max(0, from.toInt))
  }
}
