package graft.queries

import graft.{SparkSuite, SparkEntry}
import org.apache.spark.sql.functions._

/** Semantic cross-checks for the round-5 analytics additions, computed
  * independently (driver-side brute force at sf0.001) of both the
  * DataFrame pipelines and the DuckDB oracles. */
class AnalyticsSpec extends SparkSuite {

  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("grouping_sets: subtotals are consistent across grouping levels") {
    val rows = q("grouping_sets").collect()
    val grand = rows.filter(r => r.getLong(2) == 1 && r.getLong(3) == 1)
    assert(grand.length == 1, "exactly one grand-total row")
    val perType = rows.filter(r => r.getLong(2) == 0 && r.getLong(3) == 1)
    val detail = rows.filter(r => r.getLong(2) == 0 && r.getLong(3) == 0)
    // n adds up: detail -> per-type -> grand
    assert(perType.map(_.getLong(4)).sum == grand.head.getLong(4))
    assert(detail.map(_.getLong(4)).sum == grand.head.getLong(4))
    // the (day) marginal was genuinely skipped (cube would produce it)
    assert(!rows.exists(r => r.getLong(2) == 1 && r.getLong(3) == 0))
  }

  test("stats_moments: moments match a sequential fold; variance numerator non-negative") {
    val out = q("stats_moments").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(1))
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    raw.groupBy(_._1).foreach { case (t, vs) =>
      val cs = vs.map(_._2)
      val (n, sum, mn, mx, sq) = out(t)
      assert(n == cs.length && sum == cs.sum && mn == cs.min && mx == cs.max)
      val sumsq = cs.map(c => BigInt(c) * BigInt(c)).sum
      assert(BigInt(sq) == sumsq, s"sumsq mismatch for $t")
      // Var numerator n*sumsq - sum^2 >= 0 (Cauchy-Schwarz) — the
      // client-side variance derivation is well-defined
      assert(BigInt(n) * sumsq - BigInt(sum) * BigInt(sum) >= 0)
    }
  }

  test("mode_per_group: argmax equals brute-force mode with (count desc, value asc) ties") {
    val out = q("mode_per_group").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(1)))
    raw.groupBy(_._1).foreach { case (t, vs) =>
      val counts = vs.groupBy(_._2).view.mapValues(_.size.toLong).toSeq
      val (value, cnt) = counts.minBy { case (v, c) => (-c, v) }
      assert(out(t) == ((value, cnt)), s"mode mismatch for $t")
    }
  }

  test("collect_topids: the salted min-k equals the true per-lang k smallest ids") {
    val out = q("collect_topids").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val raw = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getString(1), r.getLong(0)))
    raw.groupBy(_._1).foreach { case (lang, vs) =>
      val expect = vs.map(_._2).sorted.take(5).mkString(",")
      assert(out(lang) == expect, s"min-ids mismatch for $lang")
    }
  }

  test("anomaly_zscore: counts match a driver-side replay of the identical arithmetic") {
    val out = q("anomaly_zscore").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(1)))
    raw.groupBy(_._1).foreach { case (t, vs) =>
      val cs = vs.map(_._2)
      val n = cs.length.toDouble
      val sc = cs.sum.toDouble
      val sq = cs.map(c => BigDecimal(c) * BigDecimal(c)).sum.toDouble
      val mean = sc / n
      val varr = (n * sq - sc * sc) / (n * n)
      val anomalies = cs.count(c => varr > 0 && math.abs((c - mean) / math.sqrt(varr)) > 3.0)
      assert(out(t) == ((cs.length.toLong, anomalies.toLong)), s"anomaly census mismatch for $t")
    }
  }

  test("rank_corr: rho_micro matches a driver-side Spearman computation and lies in [-1e6, 1e6]") {
    val out = q("rank_corr").collect()
      .map(r => r.getString(0) -> r.getLong(5)).toMap
    val raw = graft.Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars"),
        size(graft.llm.TextNorm.toks).cast("long").as("n_toks"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    raw.groupBy(_._1).foreach { case (lang, vs) =>
      val rx = vs.sortBy(v => (v._3, v._2)).zipWithIndex
        .map { case (v, i) => v._2 -> (i + 1L) }.toMap
      val ry = vs.sortBy(v => (v._4, v._2)).zipWithIndex
        .map { case (v, i) => v._2 -> (i + 1L) }.toMap
      val n = vs.length.toDouble
      val sxy = vs.map(v => rx(v._2).toDouble * ry(v._2)).sum
      val sx = vs.map(v => rx(v._2).toDouble).sum
      val sxx = vs.map(v => rx(v._2).toDouble * rx(v._2)).sum
      val rho = (n * sxy - sx * sx) / (n * sxx - sx * sx)
      assert(math.abs(out(lang) - math.round(rho * 1e6)) <= 1, s"rho mismatch for $lang")
      assert(out(lang) >= -1000000L && out(lang) <= 1000000L)
    }
  }

  test("merge_upsert: deletes are gone, updates applied, untouched rows intact") {
    val docs = graft.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val out = q("merge_upsert").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    docs.groupBy(_._2).foreach { case (lang, vs) =>
      val survivors = vs.filterNot(_._1 % 13 == 0)
      val updated = survivors.count(_._1 % 7 == 0).toLong
      assert(out(lang) == ((survivors.length.toLong, updated)),
        s"merge census mismatch for $lang")
    }
  }

  test("ngram_topk: descending counts, total tiebreak, and max-count agreement") {
    val rows = q("ngram_topk").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(rows.length == 25)
    // output order is (n desc, gram asc) — a total order
    assert(rows.sameElements(rows.sortBy { case (g, n) => (-n, g) }))
    // the top-1 count matches an independent full aggregation
    val full = graft.Tables.load(spark, sfDir, "documents")
      .select(graft.llm.TextNorm.toks.as("w")).filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w)-2), i -> concat(w[i], ' ', w[i+1]))")).as("gram"))
      .groupBy("gram").count().agg(max("count")).collect().head.getLong(0)
    assert(rows.head._2 == full)
  }

  test("median_mad: histogram median/MAD equal brute-force low medians") {
    val out = q("median_mad").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getLong(1)))
    def lowMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.length + 1) / 2 - 1)
    raw.groupBy(_._1).foreach { case (t, vs) =>
      val cs = vs.map(_._2)
      val med = lowMedian(cs)
      val mad = lowMedian(cs.map(c => math.abs(c - med)))
      assert(out(t) == ((cs.length.toLong, med, mad)), s"median/MAD mismatch for $t")
    }
  }

  test("median_mad releases its histogram cache once its output is collected") {
    // a fresh copy of events: a plan no earlier call has cached, so a
    // left-behind histogram is a new CacheManager entry, not a repeat
    // persist deduplicated into an old one
    val dir = java.nio.file.Files.createTempDirectory("median_mad_cache")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val before = org.apache.spark.sql.CachedEntries(spark)
    SparkEntry.queries("median_mad")(spark, dir.toString).collect()
    assert(org.apache.spark.sql.CachedEntries(spark) == before,
      "median_mad left a cached frame behind")
  }

  test("equidepth_bins: thresholds equal brute-force percentile_disc; monotone; d5 = median") {
    val out = q("equidepth_bins").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val med = q("median_mad").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(1)).map(r => (r.getString(0), r.getLong(1)))
    raw.groupBy(_._1).foreach { case (t, vs) =>
      val sorted = vs.map(_._2).sorted
      val n = sorted.length
      (1 to 9).foreach { d =>
        // smallest c with cum >= ceil(d*n/10) == element at that rank
        val rank = (d * n + 9) / 10
        assert(out((t, d.toLong)) == sorted(rank - 1), s"$t decile $d")
      }
      val ts = (1 to 9).map(d => out((t, d.toLong)))
      assert(ts == ts.sorted, s"$t thresholds not monotone: $ts")
      assert(out((t, 5L)) == med(t), s"$t: decile 5 must equal the low median")
    }
  }

  test("skyline_parts: every output is undominated; every non-output is dominated") {
    val parts = graft.Tables.load(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_size").cast("long"),
        expr("try_cast(round(p_retailprice * 100, 0) AS LONG)"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def dominated(b: (Long, Long, Long)) = parts.exists(a =>
      a._2 >= b._2 && a._3 <= b._3 && (a._2 > b._2 || a._3 < b._3))
    val out = q("skyline_parts").collect().map(_.getLong(0)).toSet
    parts.foreach { p =>
      assert(out.contains(p._1) == !dominated(p),
        s"part ${p._1} skyline membership wrong (size=${p._2}, cents=${p._3})")
    }
  }

  test("gap_fill: grid size, fill counts and LOCF sums match a sequential replay") {
    val out = q("gap_fill").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), expr("ts div 3600000000000").as("h"),
        graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    raw.groupBy(_._1).foreach { case (u, vs) =>
      val hourly = vs.groupBy(_._3).view.mapValues(_.maxBy(_._2)._4).toMap
      val hours = hourly.keys.min to hourly.keys.max
      var lastSeen = Option.empty[Long]
      var (nObs, nFill, sum) = (0L, 0L, 0L)
      hours.foreach { h =>
        hourly.get(h) match {
          case Some(c) => lastSeen = Some(c); nObs += 1
          case None    => nFill += 1
        }
        sum += lastSeen.getOrElse(0L)
      }
      assert(out(u) == ((hours.length.toLong, nObs, nFill, sum)),
        s"gap_fill mismatch for user $u")
    }
  }

  test("corr_hourly: r matches a sequential replay of the identical IEEE arithmetic; |r| <= 1") {
    val row = q("corr_hourly").collect().head
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(expr("ts div 3600000000000").as("h"), col("event_type"), graft.Tables.cents.as("c"))
      .collect().filter(r => !r.isNullAt(2) && Set("click", "purchase")(r.getString(1)))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // .toSeq BEFORE .map: mapping a Map to (x, y) tuples would rebuild
    // a Map and silently deduplicate hours with equal sums
    val hourly = raw.groupBy(_._1).toSeq.map { case (_, vs) =>
      (vs.filter(_._2 == "click").map(_._3).sum, vs.filter(_._2 == "purchase").map(_._3).sum)
    }
    val n = hourly.length.toDouble
    val sx = hourly.map(_._1).sum.toDouble
    val sy = hourly.map(_._2).sum.toDouble
    val sxy = hourly.map(v => BigDecimal(v._1) * BigDecimal(v._2)).sum.toDouble
    val sxx = hourly.map(v => BigDecimal(v._1) * BigDecimal(v._1)).sum.toDouble
    val syy = hourly.map(v => BigDecimal(v._2) * BigDecimal(v._2)).sum.toDouble
    val r = (n * sxy - sx * sy) /
      (math.sqrt(n * sxx - sx * sx) * math.sqrt(n * syy - sy * sy))
    val expected = BigDecimal(r).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(0) == hourly.length)
    assert(row.getDouble(3) == expected, s"r mismatch: ${row.getDouble(3)} vs $expected")
    assert(math.abs(row.getDouble(3)) <= 1.0)
  }

  test("ewma_user: fold matches a sequential replay; result bounded by observed extremes") {
    val out = q("ewma_user").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val raw = graft.Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), graft.Tables.cents.as("c"))
      .collect().filter(!_.isNullAt(3))
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    raw.groupBy(_._1).foreach { case (u, vs) =>
      val cs = vs.sortBy(v => (v._2, v._3)).map(_._4)
      // plain / = truncation toward zero, matching Spark's div (the
      // gate corpus is non-negative, where div and DuckDB's floor //
      // agree — the same operand-sign caveat pagerank_exact documents)
      val ewma = cs.tail.foldLeft(cs.head)((acc, x) => (7 * acc + 3 * x) / 10)
      assert(out(u) == ((cs.length.toLong, ewma)), s"ewma mismatch for user $u")
      assert(ewma >= cs.min - 1 && ewma <= cs.max + 1,
        s"user $u: ewma $ewma outside observed range")
    }
  }

  test("reservoir_sample: the salted two-phase pick equals the true k smallest hashes per lang") {
    val out = q("reservoir_sample").collect()
      .map(r => (r.getString(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val raw = graft.Tables.load(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"),
        conv(substring(md5(concat(lit("rsvp:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("h"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    raw.groupBy(_._1).foreach { case (lang, vs) =>
      val expect = vs.sortBy(v => (v._3, v._2)).take(20).map(_._2).toSet
      assert(out(lang) == expect, s"reservoir mismatch for $lang")
      assert(out(lang).size == math.min(20, vs.length), s"wrong sample size for $lang")
    }
  }

  test("zorder_layout: every bucket bounds BOTH dimensions to a 16-wide span; counts total") {
    val rows = q("zorder_layout").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val total = graft.Tables.load(spark, sfDir, "events").count()
    assert(rows.map(_._2).sum == total, "bucket counts must partition the table")
    rows.foreach { case (b, _, umin, umax, hmin, hmax) =>
      // a z >> 8 bucket fixes the top 4 bits of each 8-bit dimension,
      // so each dim spans at most 16 values — the two-dimensional
      // skipping property a single-column sort cannot provide
      assert(umax - umin < 16, s"bucket $b user span too wide: $umin..$umax")
      assert(hmax - hmin < 16, s"bucket $b hour span too wide: $hmin..$hmax")
    }
    // cross-check one bucket assignment against a driver-side interleave
    val ev = graft.Tables.load(spark, sfDir, "events")
      .selectExpr("user_id % 256 AS ub", "(ts div 3600000000000) % 256 AS hb")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def z(u: Long, h: Long): Long = (0 until 8).map { i =>
      (((u >> i) & 1L) << (2 * i + 1)) + (((h >> i) & 1L) << (2 * i))
    }.sum
    val expect = ev.groupBy { case (u, h) => z(u, h) / 256 }.view.mapValues(_.size.toLong).toMap
    assert(rows.map(r => r._1 -> r._2).toMap == expect, "bucket census mismatch vs driver replay")
  }

  test("scd2_build: versions tile each user's timeline with no no-op versions") {
    // SCD2 invariants, independent of the oracle: within a user,
    // valid_from is strictly increasing by version, each version's
    // valid_to equals the next version's valid_from (half-open tiling),
    // exactly the last version is open (NULL valid_to), and consecutive
    // versions never repeat the same attribute value (each version is a
    // real change). sf0.001 output (~800 rows) is under the 10k cap, so
    // the invariants are checked on complete user histories.
    val rows = graft.SparkEntry.queries("scd2_build")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), Option(r.getString(2)),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4))))
    rows.groupBy(_._1).foreach { case (user, hist0) =>
      val hist = hist0.sortBy(_._2)
      assert(hist.map(_._2).toSeq == (1L to hist.length).toSeq,
        s"user $user: versions not dense from 1")
      hist.sliding(2).foreach {
        case Array((_, v, t1, from1, to1), (_, _, t2, from2, _)) =>
          assert(from1 < from2, s"user $user v$v: valid_from not increasing")
          assert(to1.contains(from2), s"user $user v$v: gap or overlap in tiling")
          assert(t1 != t2, s"user $user v$v: consecutive versions share a value")
        case _ =>
      }
      assert(hist.last._5.isEmpty, s"user $user: last version not open")
      assert(hist.init.forall(_._5.nonEmpty), s"user $user: non-final open version")
    }
    assert(rows.nonEmpty)
  }
}
