package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import scala.reflect.ClassTag

/** A driver-bounded fold over primitive blocks — KMR's map → reduce to
  * rank 0 for a result whose size does not grow with the input (a
  * centroid table, a bounded cell histogram). A frame's rows are read
  * once into one block a partition and kept cached, so a loop of folds
  * rescans the blocks, never the plan.
  */
object Fold {

  /** `f` over one block a partition of `df`'s rows, built by `read` and
    * cached while `f` runs, then released ([[Truncate.held]]). */
  def held[B: ClassTag, R](df: DataFrame)(read: Iterator[InternalRow] => B)(
      f: RDD[B] => R): R =
    Truncate.held(df.queryExecution.toRdd.mapPartitions(rows => Iterator.single(read(rows))))(f)

  /** One job: each partition folds its blocks into a fresh `zero` by
    * `add`, and `treeReduce` merges the partials by `merge`, which may
    * update and return its left argument. */
  def apply[B, A: ClassTag](blocks: RDD[B])(zero: => A)(add: (A, B) => A)(
      merge: (A, A) => A): A =
    blocks.mapPartitions(bs => Iterator.single(bs.foldLeft(zero)(add))).treeReduce(merge)
}
