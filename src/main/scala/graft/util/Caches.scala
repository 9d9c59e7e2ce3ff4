package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

object Caches {

  /** Persist + eagerly materialize a DataFrame that feeds multiple
    * plan branches or a Generate (explode).
    *
    * Why both: (1) branches of one job race to populate a lazy cache
    * and each recomputes the subtree; (2) explode's implicit
    * `size(col) > 0` predicate is pushed down *through* staged
    * projections, re-inlining the whole upstream expression into a
    * row-level Filter where HOF lambdas re-evaluate their captured
    * expressions per element (measured ~50x). The cache is a hard
    * barrier against both. At cluster scale this is the standard
    * "signature table" materialization of a multi-branch pipeline.
    *
    * A plan some earlier call already materialized (the cache manager
    * matches equal plans) is returned as is: no second persist, no
    * second count. */
  def materialize(df: DataFrame): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
      cached.count()
      cached
    }

  /** One `collect()` of a frame that is bounded by construction (an
    * oracle gate's pins, an `AnnQueries`-sized query panel), returned
    * as a local relation with the same rows, column order, types and
    * nullability. Later reads run no Spark job: the gate's pins, every
    * branch of a plan over it, the entry's action (projections and
    * filters fold into the relation). Nothing stays persisted or
    * registered with the cache manager, so no other query's plan is
    * rewritten to read it. */
  def local(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(df.collect(): _*), df.schema)

  /** Scale-adaptive repartition ahead of a per-row-heavy stage
    * (explode, shingle hashing): when the frame's widest leaf scan is
    * NARROWER than half the session's parallelism — the harness corpus
    * is ONE parquet file, i.e. one scan task — spread it by `key` so
    * the explode and its map-side partial aggregation run wide instead
    * of single-task (guide §2.5 input skew). An already-parallel input
    * (any real multi-file table, and 100 TB in particular) passes
    * through untouched, paying no exchange. The width is read from the
    * leaves of the physical plan before any exchange is planned, so
    * the check starts no Spark job whatever the input holds. */
  def widen(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame = {
    val width = df.queryExecution.sparkPlan.collectLeaves().map {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.inputRDD.getNumPartitions
      case leaf => leaf.execute().getNumPartitions
    }.foldLeft(1)(math.max)
    if (width * 2 < df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(key)
    else df
  }

  /** Eager checkpoint-or-localCheckpoint: truncates lineage either way,
    * and a configured checkpoint dir upgrades the truncation to a
    * fault-tolerant one — localCheckpoint blocks are unreplicated, so
    * an executor loss cannot recompute past the truncation. Iterative
    * loops (connected components) and released-cache snapshots
    * (candidate pair sets) both route through this so a cluster
    * deployment gets reliability by setting one conf.
    *
    * The checkpointed leaf's carried size estimate is CAPPED: Spark
    * copies the origin plan's estimated Statistics onto the new leaf,
    * and Catalyst's size-only visitor MULTIPLIES child sizes through
    * joins — in a snapshot-per-round loop the estimate's bit-length
    * doubles every round (size_k ~ size_{k-1}^2), and by round ~25
    * the driver spends minutes on multi-megabit BigInteger products
    * just planning the next round (observed: the sf1 cluster loop
    * wedged single-threaded in BigInteger.multiplyToomCook3). Small
    * real estimates pass through untouched, so broadcast-threshold
    * decisions keep working; only the meaningless astronomical ones
    * are clamped. */
  def snapshot(df: DataFrame): DataFrame = {
    val chk =
      if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
        df.checkpoint(true)
      else df.localCheckpoint(true)
    org.apache.spark.sql.GraftBridge.capLeafStats(chk, BigInt(2).pow(50))
  }

  /** [[snapshot]]'s rule for an RDD, applied lazily: the next job over
    * `rdd` materializes it — no job of its own without a checkpoint
    * dir — and truncates its lineage when it finishes. For iterative
    * RDD kernels whose every iteration is already one job. */
  def snapshotRdd[T](rdd: RDD[T]): RDD[T] =
    if (rdd.sparkContext.getCheckpointDir.isDefined) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
      rdd
    } else rdd.localCheckpoint()
}
