package graft.core

import scala.reflect.ClassTag

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

/** Typed key-value-stream API with KMR operator parity (SURVEY §7.1
  * layer 1) — a thin wrapper over `Dataset[(K, V)]` where each verb is the
  * idiomatic Spark primitive for the corresponding reference operator.
  *
  * Semantics notes carried over from the reference:
  *  - The "global order" of a KVS is the partition-order concatenation of
  *    per-partition contents (src/kmrbase.c:2232-2237) — `ranking`,
  *    `scanOnValues`, `chooseFirstPart` and `replicate` are defined in
  *    those terms here too.
  *  - Grouping equality is by value ("by bits", src/kmrbase.c:2590-2596);
  *    Spark's typed groupByKey on the key column matches.
  *  - KMR's consume-on-use discipline (src/kmrbase.c:1332-1344) is a
  *    memory-management artifact; immutable Datasets subsume it.
  *
  * Callers supply `Encoder`s via `import spark.implicits._`.
  */
final class KVS[K, V](val ds: Dataset[(K, V)]) extends Serializable {

  private def spark: SparkSession = ds.sparkSession

  /** kmr_map9 1:1 form (src/kmrbase.c:1346-1391). */
  def map[K2, V2](f: ((K, V)) => (K2, V2))(implicit e: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(ds.map(f))

  /** kmr_map9 0..n-output form — the faithful generic mapping since a
    * map-fn may emit any number of pairs (src/kmr.h:725-738). */
  def flatMap[K2, V2](f: ((K, V)) => IterableOnce[(K2, V2)])(
      implicit e: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(ds.flatMap(f))

  /** Predicate filter (a 0/1-output kmr_map). */
  def filter(p: ((K, V)) => Boolean): KVS[K, V] = new KVS(ds.filter(p))

  /** kmr_shuffle (src/kmrbase.c:2093-2230): co-locate equal keys. Usually
    * elided — groupBy/join shuffle implicitly — but exposed for parity. */
  def shuffle(): KVS[K, V] = new KVS(ds.repartition(col("_1")))

  /** kmr_shuffle with key_as_rank-style explicit width. */
  def shuffle(numPartitions: Int): KVS[K, V] =
    new KVS(ds.repartition(numPartitions, col("_1")))

  /** kmr_shuffle_leveling_pair_count (src/kmrmoreops.c:1047-1122):
    * even out per-partition pair counts while keeping equal keys
    * co-located — Spark's RangePartitioner does exactly this via weighted
    * reservoir sampling of the key column. */
  def shuffleLeveling(numPartitions: Int): KVS[K, V] =
    new KVS(ds.repartitionByRange(numPartitions, col("_1")))

  /** kmr_replicate (src/kmrbase.c:2239-2350): allgather. In Spark the
    * executor-visible replica is a broadcast of the collected rows. */
  def replicate(): Broadcast[Array[(K, V)]] =
    spark.sparkContext.broadcast(ds.collect())

  /** kmr_reduce9 (src/kmrbase.c:2606-2676): whole group in, 0..n pairs
    * out — only flatMapGroups covers reduce-fns that emit many rows
    * (e.g. the join kernel). */
  def reduce[K2, V2](f: (K, Iterator[V]) => IterableOnce[(K2, V2)])(
      implicit ek: Encoder[K], ev: Encoder[(K, V)], e2: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(ds.groupByKey(_._1).flatMapGroups((k, it) => f(k, it.map(_._2)).iterator))

  /** Commutative-associative per-key reduce — the map-side-combinable
    * special case (Catalyst plans partial aggregation automatically). */
  def reduceByKey(f: (V, V) => V)(
      implicit ek: Encoder[K], e: Encoder[(K, V)]): KVS[K, V] =
    new KVS(ds.groupByKey(_._1).reduceGroups((a, b) => (a._1, f(a._2, b._2))).map(_._2))

  /** kmr_reduce_as_one (src/kmrbase.c:2682-2742): reduce-fn once per
    * whole partition. */
  def reduceAsOne[K2, V2](f: Iterator[(K, V)] => IterableOnce[(K2, V2)])(
      implicit e: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(ds.mapPartitions(it => f(it).iterator))

  /** kmr_sort (src/kmrmoreops.c:574-593): global sort by key. Spark's
    * orderBy IS the sampling sort (RangePartitioner) that kmr_sort_large
    * implements by hand; the trivial/small strategies are size cases of
    * the same physical plan. */
  def sort(): KVS[K, V] = new KVS(ds.orderBy(col("_1")))

  /** kmr_sort_locally (src/kmrbase.c:2050-2062): in-partition sort. */
  def sortLocally(): KVS[K, V] = new KVS(ds.sortWithinPartitions(col("_1")))

  /** kmr_concatenate_kvs (src/kmrbase.c:2753-2815): bag union. */
  def concatenate(others: KVS[K, V]*): KVS[K, V] =
    new KVS(others.foldLeft(ds)((acc, o) => acc.unionAll(o.ds)))

  /** kmr_match (src/kmrmoreops.c:695-728): per matching key, the cross
    * product of the two value lists — inner equi-join multiplicity. */
  def matchJoin[W](other: KVS[K, W])(
      implicit e3: Encoder[(K, V, W)], e: Encoder[(K, (V, W))]): KVS[K, (V, W)] =
    new KVS(
      ds.toDF("k", "v")
        .join(other.ds.toDF("k2", "w"), col("k") === col("k2"))
        .select(col("k"), col("v"), col("w"))
        .as[(K, V, W)]
        .map(t => (t._1, (t._2, t._3))))

  /** kmr_ranking (src/kmrmoreops.c:742-805): global 0-based contiguous
    * index in current global order. zipWithIndex is the two-phase
    * per-partition-count + offset design — no single-task stage. */
  def ranking(implicit e: Encoder[(Long, (K, V))]): KVS[Long, (K, V)] =
    new KVS(spark.createDataset(
      ds.rdd.zipWithIndex.map { case (kv, i) => (i, kv) })(e))

  /** kmr_distribute (src/kmrmoreops.c:807-865): even round-robin
    * re-balance of elements across partitions. */
  def distribute(numPartitions: Int): KVS[K, V] =
    new KVS(ds.repartition(numPartitions))

  /** kmr_scan_on_values (src/kmrmoreops.c:931-972): NON-inclusive prefix
    * scan of values under an associative `plus`, in the current global
    * order, on the two-phase kernel [[KVS.scan]]. The input is cached so
    * both phases see identical partitioning. */
  def scanOnValues(zero: V)(plus: (V, V) => V)(
      implicit e: Encoder[(K, V)], ctK: ClassTag[K], ctV: ClassTag[V]): KVS[K, V] =
    new KVS(Truncate.over(ds) { cached =>
      val scanned = KVS.scan(cached.rdd, zero)(_._2, plus) { case ((k, _), pre) => (k, pre) }
      spark.createDataset(scanned)(e)
    })

  /** Grand total under `plus` — the companion value kmr_scan_on_values
    * also returns on every rank. */
  def totalOnValues(zero: V)(plus: (V, V) => V)(implicit ct: ClassTag[V]): V =
    ds.rdd.map(_._2).fold(zero)(plus)

  /** kmr_choose_first_part (src/kmrmoreops.c:1144-1163): first n in
    * global order. */
  def chooseFirstPart(n: Int)(implicit e: Encoder[(K, V)]): KVS[K, V] =
    new KVS(ds.limit(n))

  /** kmr_count_keys (src/kmrmoreops.c:1008-1024). */
  def countKeys()(implicit ek: Encoder[K]): KVS[K, Long] =
    new KVS(ds.groupByKey(_._1).count())

  /** kmr_reverse (src/kmrmoreops.c:141-162). */
  def reverse(implicit e: Encoder[(V, K)]): KVS[V, K] =
    new KVS(ds.map(kv => (kv._2, kv._1)))

  /** kmr_pairing (src/kmrmoreops.c:196-237): (k,v) → (k,(k,v)) — carries
    * the whole pair through a re-keying. */
  def pairing(implicit e: Encoder[(K, (K, V))]): KVS[K, (K, V)] =
    new KVS(ds.map(kv => (kv._1, kv)))

  /** kmr_find_key (src/kmrmoreops.c:42-91): exactly-one lookup; errors
    * when absent or ambiguous, like the reference. */
  def findKey(k: K): V = {
    val hits = ds.filter(_._1 == k).take(2)
    require(hits.length == 1, s"findKey: ${hits.length} entries for key $k")
    hits.head._2
  }

  /** kmr_take_one (src/kmrbase.c:1426-1453): the single pair of a
    * 1-element KVS. */
  def takeOne(): (K, V) = {
    val hits = ds.take(2)
    require(hits.length == 1, s"takeOne: KVS has ${hits.length} entries")
    hits.head
  }

  /** kmr_get_element_count (src/kmrmoreops.c:113-137). */
  def elementCount(): Long = ds.count()

  /** kmr_map_skipping / kmr_sample_kv (src/kmrbase.c:1191-1330,
    * src/kmrmoreops.c:309-327): deterministic stride sampling over the
    * global order. */
  def sampleStride(from: Long, stride: Long)(implicit e: Encoder[(K, V)]): KVS[K, V] =
    new KVS(spark.createDataset(
      ds.rdd.zipWithIndex
        .filter { case (_, i) => i >= from && (i - from) % stride == 0 }
        .map(_._1))(e))

  /** kmr_histogram_count_by_ranks (src/kmrmoreops.c:1568-1629):
    * per-partition element counts. */
  def histogramByPartition(): Array[(Int, Long)] =
    ds.rdd.mapPartitionsWithIndex((i, it) => Iterator((i, it.size.toLong))).collect()

  /** kmr_map_rank_by_rank (src/kmrbase.c:1396-1418): per-partition map
    * with the partition id visible — the reference's debug-ordering
    * traversal. */
  def mapByPartition[K2, V2](f: (Int, Iterator[(K, V)]) => Iterator[(K2, V2)])(
      implicit e: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(spark.createDataset(ds.rdd.mapPartitionsWithIndex(f))(e))

  /** kmr_map_for_some / kmr_reduce_for_some (src/kmrmoreops.c:1169-1189):
    * map that stops once any output exists — limit(1) lets Spark cancel
    * the remaining work. */
  def mapForSome[K2, V2](f: ((K, V)) => IterableOnce[(K2, V2)])(
      implicit e: Encoder[(K2, V2)]): KVS[K2, V2] =
    new KVS(ds.flatMap(f).limit(1))

  /** kmr_shuffle with the key_as_rank option (src/kmr.h:646,663;
    * src/kmrbase.c:2164-2168): the application chooses the destination
    * partition per key — an explicit RDD Partitioner, the one placement
    * Catalyst cannot express. */
  def placeByKey(numPartitions: Int)(place: K => Int)(
      implicit e: Encoder[(K, V)], ctK: ClassTag[K], ctV: ClassTag[V]): KVS[K, V] = {
    val n = numPartitions
    val part = new org.apache.spark.Partitioner {
      override def numPartitions: Int = n
      override def getPartition(key: Any): Int =
        math.floorMod(key.asInstanceOf[Int], n)
    }
    val placed = ds.rdd
      .map(kv => (place(kv._1), kv))
      .partitionBy(part)
      .map(_._2)
    new KVS(spark.createDataset(placed)(e))
  }

  /** kmr_save_kvs (src/kmrbase.c:1026-1126): durable marshalling — the
    * Spark-native form is a parquet snapshot, one file per partition
    * (≈ per-rank image). */
  def save(path: String): Unit =
    ds.write.mode("overwrite").parquet(path)

  /** §2.7 incremental-aggregate wrapper: Spark's Aggregator[IN,BUF,OUT]
    * is the typed counterpart of a KMR reduce-fn that folds instead of
    * buffering the whole group (map-side partial aggregation included). */
  def aggregateByKey[B, O](agg: org.apache.spark.sql.expressions.Aggregator[(K, V), B, O])(
      implicit ek: Encoder[K]): KVS[K, O] =
    new KVS(ds.groupByKey(_._1).agg(agg.toColumn))

  /** kmr_map_via_spawn / kmr_map_processes analogue
    * (src/kmrmapms.c:1938-2126, src/kmrwatch0.c; exercised by
    * src/test5.c): gang-scheduled external processes, one per partition.
    *
    * Spark has no MPI_Comm_spawn, but `RDD.barrier()` gives the property
    * those operators actually deliver: ALL member processes are
    * co-resident for the duration of the stage — the scheduler launches
    * every partition's task simultaneously (or none), and an explicit
    * barrier aligns the moment the processes start, so a multi-process
    * step whose members coordinate (the reference's spawned MPI worlds)
    * can rely on its peers existing.
    *
    * Per-process contract (the kmrshell pipe protocol, kept so farm and
    * barrier steps compose): the partition's pairs stream to stdin as
    * `key\tvalue` lines; stdout lines come back as `key\tvalue` pairs
    * (no tab → the line is the key, empty value). The environment
    * carries the gang coordinates the reference passes via the spawned
    * communicator — GRAFT_BARRIER_RANK (this member's index),
    * GRAFT_BARRIER_SIZE (gang width), GRAFT_BARRIER_ADDRS (all members'
    * `host:port` task addresses, rank-ordered — the hostfile a
    * coordinating step would use to rendezvous).
    *
    * Scale shape: barrier stages need every task to hold a slot at once,
    * so the gang width is the partition count the CALLER sets
    * (repartition before the call) — exactly the reference's
    * user-chosen spawn count. Stdin streams to the child without
    * buffering; stdout is collected per-partition BEFORE the exit-code
    * check so that a failing child can never emit partial output — a
    * nonzero exit (or a stdin-feed failure) fails the task loudly (the
    * watch-process contract, src/kmrwatch0.c). */
  def mapBarrier(cmd: Seq[String])(
      implicit evK: K =:= String, evV: V =:= String,
      e: Encoder[(String, String)]): KVS[String, String] = {
    require(cmd.nonEmpty, "mapBarrier: empty command")
    val argv = cmd
    val out = ds.rdd.map(kv => (evK(kv._1), evV(kv._2))).barrier()
      .mapPartitions { it =>
        val ctx = org.apache.spark.BarrierTaskContext.get()
        val infos = ctx.getTaskInfos()
        // Align the gang: every member reaches this point before any
        // process is exec'd — the MPI_Comm_spawn moment.
        ctx.barrier()
        val pb = new ProcessBuilder(argv: _*)
        pb.environment().put("GRAFT_BARRIER_RANK", ctx.partitionId().toString)
        pb.environment().put("GRAFT_BARRIER_SIZE", infos.length.toString)
        pb.environment().put("GRAFT_BARRIER_ADDRS", infos.map(_.address).mkString(","))
        pb.redirectError(ProcessBuilder.Redirect.INHERIT)
        val p = pb.start()
        // Feed stdin from a separate thread so a process that writes
        // before draining its input cannot deadlock against us. A feed
        // failure (e.g. broken pipe from a child that stopped reading
        // early yet exits 0) must fail the TASK, not die silently in
        // the daemon thread — otherwise partial input yields silently
        // partial results.
        @volatile var writerFailure: Throwable = null
        val writer = new Thread(() => {
          val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
            p.getOutputStream, java.nio.charset.StandardCharsets.UTF_8))
          try {
            try it.foreach { case (k, v) => w.write(k); w.write('\t'); w.write(v); w.write('\n') }
            finally w.close()
          } catch { case t: Throwable => writerFailure = t }
        })
        writer.setDaemon(true)
        writer.start()
        val lines = scala.io.Source.fromInputStream(
          p.getInputStream, "UTF-8").getLines().map { line =>
          line.indexOf('\t') match {
            case -1 => (line, "")
            case i  => (line.substring(0, i), line.substring(i + 1))
          }
        }.toVector
        writer.join()
        val rc = p.waitFor()
        require(rc == 0, s"mapBarrier: rank ${ctx.partitionId()} command exited $rc")
        if (writerFailure != null)
          throw new java.io.IOException(
            s"mapBarrier: rank ${ctx.partitionId()} stdin feed failed mid-stream " +
            "(child consumed partial input) — refusing to emit its output", writerFailure)
        lines.iterator
      }
    new KVS(spark.createDataset(out)(e))
  }
}

object KVS {

  def apply[K, V](ds: Dataset[(K, V)]): KVS[K, V] = new KVS(ds)

  /** kmr_map_once / kmr_map_on_rank_zero (src/kmrbase.c:1459-1521):
    * generate a KVS from driver-side data. */
  def generate[K, V](spark: SparkSession, pairs: Seq[(K, V)], numPartitions: Int = 0)(
      implicit e: Encoder[(K, V)]): KVS[K, V] = {
    val base = spark.createDataset(pairs)(e)
    new KVS(if (numPartitions > 0) base.repartition(numPartitions) else base)
  }

  /** KMR's scan (kmr_scan_on_values, src/kmrmoreops.c:931-972) over an
    * RDD in partition order: `emit(r, pre)` for every record `r`, where
    * `pre` is the NON-inclusive prefix of `value` under `plus`. Phase 1
    * folds each partition and collects the sums — O(numPartitions) on
    * the driver, KMR's rank0 sequential carry
    * (kmr_scan_across_ranks_sequentially); phase 2 re-walks each
    * partition from its carry-in. `rows` is read by both phases: cache it
    * so they see the same records. */
  private[graft] def scan[T, V: ClassTag, U: ClassTag](rows: RDD[T], zero: V)(
      value: T => V, plus: (V, V) => V)(emit: (T, V) => U): RDD[U] = {
    val sums = rows.mapPartitions(it => Iterator(it.foldLeft(zero)((a, r) => plus(a, value(r)))))
      .collect()
    val carry = rows.sparkContext.broadcast(sums.scanLeft(zero)(plus))
    rows.mapPartitionsWithIndex { (i, it) =>
      var acc = carry.value(i)
      it.map { r => val pre = acc; acc = plus(acc, value(r)); emit(r, pre) }
    }
  }

  /** Lift a 2-column DataFrame-shaped Dataset. */
  def fromColumns[K, V](ds: Dataset[_], key: Column, value: Column)(
      implicit e: Encoder[(K, V)]): KVS[K, V] =
    new KVS(ds.select(key, value).as[(K, V)](e))

  /** kmr_restore_kvs (src/kmrbase.c:1026-1126): read back a [[KVS.save]]
    * snapshot. */
  def restore[K, V](spark: SparkSession, path: String)(
      implicit e: Encoder[(K, V)]): KVS[K, V] =
    new KVS(spark.read.parquet(path).as[(K, V)](e))
}
