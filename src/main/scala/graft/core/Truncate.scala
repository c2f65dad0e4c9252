package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** The one owner of lineage truncation and of input-cache release (KMR
  * gives checkpointing one owner too: src/kmrckpt.c:1-40). Every cut in
  * the engine is a `localCheckpoint`: its blocks live on the executors
  * that computed them, and the ContextCleaner frees them once the cut
  * frame or RDD is unreferenced. Three forms:
  * - [[apply]]: cut a Dataset now;
  * - [[over]] / [[held]]: cache an input while `f` derives from it, then
  *   release it — also when `f` throws;
  * - [[mark]]: cut an RDD at the next job that computes it (a loop's
  *   own job fills it).
  */
object Truncate {

  /** `ds` with its lineage cut: one job computes it into the block cache
    * now, and every later read starts there. */
  def apply[T](ds: Dataset[T]): Dataset[T] = ds.localCheckpoint(true)

  /** `rdd`, to be cut by the next job that computes it. */
  def mark[T](rdd: RDD[T]): RDD[T] = rdd.localCheckpoint()

  /** `f` over `input` cached, its result cut before the input's cache is
    * released: a frame read more than once is computed once, and the
    * result never reads the released cache. */
  def over[I, T](input: Dataset[I])(f: Dataset[I] => Dataset[T]): Dataset[T] =
    held(input)(in => apply(f(in)))

  def over[I, T](input: RDD[I])(f: RDD[I] => Dataset[T]): Dataset[T] =
    held(input)(in => apply(f(in)))

  /** `f` over `input` cached, released once `f` returns or throws. What
    * `f` returns must not read `input` lazily: a driver-side value, or
    * frames `f` cut itself. */
  def held[I, R](input: Dataset[I])(f: Dataset[I] => R): R =
    try f(input.persist()) finally input.unpersist(false)

  def held[I, R](input: RDD[I])(f: RDD[I] => R): R =
    try f(input.persist()) finally input.unpersist(false)
}
