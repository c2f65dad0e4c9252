package graft.algos

import graft.{SparkSuite, Tables}
import graft.functions.DotProductD.dotD
import graft.llm.AnnOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one Lloyd kernel behind kmeans_clusters and the IVF quantizer:
  * its nearest-centroid rule equals the SQL assignments on every vector,
  * one round equals the SQL decimal mean rule, the centroids do not
  * depend on the partitioning, and each iteration is one Spark job. */
class LloydSpec extends SparkSuite {

  private val sf001 = "/root/testdata/sf0.01"

  /** HostileEmbeddingsSpec's rows (as doubles), plus a NaN and null
    * components in the lowest ids, so the first of the 8 seeds scores
    * NaN and two seeds read nulls. The null and empty vectors sit past
    * the seeds: l2Assign has no zero-length centroid literal. */
  private def hostile: DataFrame = {
    import spark.implicits._
    def f(xs: Float*): Seq[java.lang.Double] = xs.map(x => java.lang.Double.valueOf(x.toDouble))
    Seq[(Long, Seq[java.lang.Double])](
      (0L, f(0.1f, 0.2f, 0.3f, 0.4f)), (1L, f(0.4f, 0.3f, 0.2f, 0.1f)),
      (2L, f(0f, 0f, 0f, 0f)), (13L, null), (14L, Seq.empty),
      (5L, f(Float.NaN, 1f, 2f, 3f)), (6L, f(1f)),
      (7L, f(1e30f, -1e30f, 1e30f, -1e30f)), (8L, f(0.5f, 0.5f, 0.5f, 0.5f)),
      (9L, f(-0.5f, 0.5f, -0.5f, 0.5f)), (-3L, f(1f, Float.NaN)),
      (-2L, Seq(1.0, null, 2.0, 0.5)), (-1L, Seq(null, null)), (12L, f(0.3f, 0.1f)))
      .toDF("id", "e")
  }

  private def embeddings(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("vec_id").as("id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))

  /** The first k vectors by id, read as a collected Row reads them. */
  private def firstK(v: DataFrame, k: Int): Array[(Long, Array[Double])] =
    v.orderBy("id").limit(k).collect().map(r => r.getLong(0) ->
      Option(r.getSeq[java.lang.Double](1)).fold(Array.empty[Double])(
        _.map(x => if (x == null) 0.0 else x.doubleValue).toArray))

  private def bits(cs: Array[(Long, Array[Double])]): Seq[(Long, Seq[Long])] =
    cs.toSeq.map { case (cid, ce) => cid -> ce.toSeq.map(java.lang.Double.doubleToRawLongBits) }

  /** The kernel's nearest centroid of every vector, each read as the
    * kernel's blocks read it (a null component as NaN). */
  private def kernel(v: DataFrame, cs: Array[(Long, Array[Double])],
      metric: Iterative.Metric): Map[Long, Long] = {
    val table = Iterative.Centroids(cs, metric)
    v.collect().map { r =>
      val e = Option(r.getSeq[java.lang.Double](1))
        .map(_.map(x => if (x == null) Double.NaN else x.doubleValue).toArray).orNull
      r.getLong(0) -> table.cids(table.nearest(e)._1)
    }.toMap
  }

  private def sqlL2(v: DataFrame, cs: Array[(Long, Array[Double])]): Map[Long, Long] =
    Iterative.l2Assign(v, cs).collect().map(r => r.getLong(0) -> r.getLong(2)).toMap

  private def sqlCos(v: DataFrame, cs: Array[(Long, Array[Double])]): Map[Long, Long] =
    AnnOps.ivfAssign(
      v.select(col("id").as("vec_id"), col("e"), sqrt(dotD(col("e"), col("e"))).as("nrm")),
      AnnOps.centDf(spark, cs))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap

  private def frames: Seq[(String, DataFrame)] =
    Seq("hostile" -> hostile, "sf0.01" -> embeddings(spark, sf001))

  test("the kernel assigns every vector as l2Assign and ivfAssign do") {
    frames.foreach { case (name, v) =>
      val seeds = firstK(v, 8)
      val centroidSets = Seq("seeds" -> seeds,
        "trained" -> Iterative.lloyd(v, 8, 3, Iterative.L2)._1,
        "quantizer" -> Iterative.lloyd(v, 8, 3, Iterative.NegCos)._1)
      centroidSets.foreach { case (set, cs) =>
        assert(kernel(v, cs, Iterative.L2) == sqlL2(v, cs), s"$name/$set: L2 assignments differ")
        assert(kernel(v, cs, Iterative.NegCos) == sqlCos(v, cs),
          s"$name/$set: cosine assignments differ")
      }
    }
  }

  test("one kernel round equals the SQL try_cast decimal mean rule and inertia") {
    val finite = hostile.filter(!col("id").isin(-3L, 5L))
    (frames :+ ("hostile without NaN" -> finite)).foreach { case (name, v) =>
      val seeds = firstK(v, 8)
      assert(bits(Iterative.lloyd(v, 8, 0, Iterative.L2)._1) == bits(seeds),
        s"$name: seeds are not the first k vectors by id")
      val means = Iterative.l2Assign(v, seeds)
        .select(col("cid"), posexplode(col("e")))
        .select(col("cid"), col("pos"), expr("try_cast(col AS DECIMAL(28,12))").as("q"))
        .groupBy("cid", "pos").agg(sum("q").as("sq"), count("q").as("cq"))
        .filter(col("cq") > 0)
        .select(col("cid"), col("pos"), (col("sq").cast("double") / col("cq")).as("m"))
        .collect().groupBy(_.getLong(0))
      val want = seeds.map { case (cid, prev) =>
        means.get(cid).fold(cid -> prev) { rows =>
          val m = rows.map(r => r.getInt(1) -> r.getDouble(2)).toMap
          cid -> Array.tabulate(math.max(prev.length, m.keys.max + 1))(i =>
            m.getOrElse(i, if (i < prev.length) prev(i) else 0.0))
        }
      }
      val (one, history) = Iterative.lloyd(v, 8, 1, Iterative.L2)
      assert(bits(one) == bits(want), s"$name: means differ")
      // SQL's sum skips a NULL distance (a null vector or component)
      val inertia = Iterative.l2Assign(v, seeds).agg(sum("d2")).head().getDouble(0)
      assert(history.length == 1 && (history.head.isNaN && inertia.isNaN ||
        math.abs(history.head - inertia) <= 1e-12 * math.abs(inertia)), s"$name: inertia")
    }
  }

  test("k-means centroids and the IVF quantizer do not depend on the partitioning") {
    def trained(parts: Option[Int]) = {
      val s = spark.newSession()
      parts.foreach(p => s.conf.set("spark.sql.shuffle.partitions", p.toLong))
      val scan = embeddings(s, sf001)
      val v = parts.fold(scan)(p => scan.repartition(p))
      (bits(Iterative.lloyd(v, 8, 5, Iterative.L2)._1),
        bits(AnnOps.quantizer(v.withColumnRenamed("id", "vec_id"))))
    }
    val want = trained(None)
    assert(want._1.length == 8 && want._2.nonEmpty)
    Seq(1, 3).foreach(p => assert(trained(Some(p)) == want, s"$p partitions"))
  }

  test("one job fills the cache and seeds, then one job an iteration") {
    val build = Iterative.defs.find(_.name == "kmeans_clusters").get.fn
    val v = embeddings(spark, sfDir).withColumnRenamed("id", "vec_id")
    build(spark, sfDir) // loads the table's metadata outside the count
    val (_, kmeans) = jobsIn("kmeans-build")(build(spark, sfDir))
    assert(kmeans <= 6, s"kmeans_clusters build ran $kmeans jobs")
    val (_, count) = jobsIn("quantizer-count")(v.count())
    val (cents, quantizer) = jobsIn("quantizer")(AnnOps.quantizer(v))
    assert(cents.nonEmpty)
    assert(quantizer - count <= 1 + AnnOps.LloydIters,
      s"quantizer training ran ${quantizer - count} jobs after the count")
  }

  test("an iteration that throws leaves no persisted RDD behind") {
    val sc = spark.sparkContext
    val boom: Iterative.Metric = (_, _, _) => throw new IllegalStateException("boom")
    val before = sc.getPersistentRDDs.keySet
    intercept[Exception](Iterative.lloyd(hostile, 8, 3, boom))
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"left ${left.map(sc.getPersistentRDDs)} cached")
  }
}
