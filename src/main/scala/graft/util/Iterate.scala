package graft.util

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** One loop for iterative operators that fold the same input many times
  * against a small driver-side state (k-means centroids, PQ codebooks,
  * logistic-regression weights), in MLlib's logistic-regression shape.
  * ONE job persists and counts the input while each partition computes
  * a `seed` summary; the summaries make the first state. Each step then
  * computes one `partial` per partition against the state, merges the
  * partials in partition order (never in task-completion or
  * shuffle-fetch order, so a given partitioning always gives the same
  * doubles) and makes the next state. Up to [[RowsPerTask]] rows every
  * step runs in one task ([[oneTask]]), bit-identical to [[stepLoop]]'s
  * one job per step; an empty input returns the first state. */
object Iterate {

  /** A k-means step here costs ~0.5 G flops on one core at 64 dims and
    * 16 centroids: less than the per-step jobs it saves. */
  val RowsPerTask: Long = 500000L

  /** `seed` reads every row of a partition; `seedMerge` and `merge`
    * take the earlier partitions on the left and may update it. */
  final case class Loop[T, H, S, P](seed: Iterator[T] => H,
      seedMerge: (H, H) => H, start: H => S,
      partial: (S, Iterator[T]) => P, merge: (P, P) => P,
      next: (S, P) => S)

  def apply[T: ClassTag, H, S: ClassTag, P: ClassTag](rows: RDD[T],
      steps: Int, loop: Loop[T, H, S, P]): S = {
    val cached = rows.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val sized = cached.mapPartitions { it =>
        var n = 0L
        val h = loop.seed(it.map { r => n += 1; r })
        Iterator((n, h))
      }.collect()
      val s0 = loop.start(sized.iterator.map(_._2)
        .reduceLeftOption(loop.seedMerge).getOrElse(loop.seed(Iterator.empty)))
      val n = sized.map(_._1).sum
      if (n == 0L) s0
      else if (n <= RowsPerTask) oneTask(cached, s0, steps, loop)
      else stepLoop(cached, s0, steps, loop)
    } finally cached.unpersist(blocking = false)
  }

  /** Elementwise `a += b`: the merge of additive partials. */
  def sum(a: Array[Double], b: Array[Double]): Array[Double] = {
    for (i <- a.indices) a(i) += b(i); a
  }

  /** Every step inside one task: the partitions' rows are held apart,
    * so the partials and their merge order are [[stepLoop]]'s. */
  private[graft] def oneTask[T: ClassTag, H, S: ClassTag, P](rows: RDD[T],
      s0: S, steps: Int, loop: Loop[T, H, S, P]): S =
    rows.mapPartitionsWithIndex((i, it) => Iterator((i, it.toArray)))
      .coalesce(1)
      .mapPartitions { held =>
        val parts = held.toArray.sortBy(_._1).map(_._2)
        Iterator((0 until steps).foldLeft(s0) { (s, _) =>
          loop.next(s, parts.iterator.map(p => loop.partial(s, p.iterator))
            .reduceLeft(loop.merge))
        })
      }
      .collect().head

  /** One job per step, the state broadcast. */
  private[graft] def stepLoop[T, H, S: ClassTag, P: ClassTag](rows: RDD[T],
      s0: S, steps: Int, loop: Loop[T, H, S, P]): S =
    (0 until steps).foldLeft(s0) { (s, _) =>
      val state = rows.sparkContext.broadcast(s)
      try loop.next(s, rows
        .mapPartitions(it => Iterator(loop.partial(state.value, it)))
        .collect().reduceLeft(loop.merge))
      finally state.destroy()
    }
}
