package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (beyond-reference: KMR has no streaming
  * semantics — its push-off KVS is shuffle pipelining only, SURVEY §2.8).
  * These transforms are source-agnostic: they accept any streaming OR
  * batch DataFrame/Dataset with the right columns, so the same logic is
  * testable with MemoryStream and deployable on readStream sources.
  */
object StreamOps {

  /** Watermarked tumbling-window aggregation — the streaming shape of the
    * `events_window` gate query (1-hour windows, exact integer cents).
    * With OutputMode.Append, a window emits once the watermark passes its
    * end: exactly-once totals per (window, event_type). */
  def windowedCounts(events: DataFrame, lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_cents"))

  /** Declarative session windows via the built-in `session_window`
    * grouping — the native alternative to [[sessionize]]'s custom
    * flatMapGroupsWithState: Catalyst merges overlapping [ts, ts+gap)
    * spans per key, the state store holds only open sessions, and a
    * session emits exactly once when the watermark passes its end
    * (Append mode). Use this form when "gap timeout" is the whole
    * requirement; drop to [[sessionize]] only for semantics the built-in
    * cannot express (per-event session mutation, custom close rules).
    * Expects `ts_t` (timestamp) and `user_id`. */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
      lateness: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts_t", lateness)
      .groupBy(col("user_id"), session_window(col("ts_t"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"))

  /** Streaming exact dedup: drop rows whose `content_hash` was already
    * seen, with state bounded by the watermark (a duplicate arriving
    * later than `lateness` after the original is out of scope — the
    * standard stream-dedup contract). dropDuplicatesWithinWatermark is
    * the API with bounded state for non-event-time keys — plain
    * dropDuplicates(hash) would keep every hash ever seen forever.
    * Batch-side mirror: dedup_exact. */
  def streamingDedup(docs: DataFrame, lateness: String = "1 hour"): DataFrame =
    docs
      .withWatermark("ts_t", lateness)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Stream-stream interval join: pair each `right` row with the `left`
    * rows of the same key whose event time precedes it by at most
    * `window`. BOTH sides must already carry a watermark — that bound
    * is what lets Spark evict join state for expired intervals, the
    * only sustainable shape when both sides are unbounded (an
    * un-watermarked stream-stream join buffers forever). Column names:
    * left (`lKey`, `lTime`), right (`rKey`, `rTime`); the interval
    * predicate rides the join condition so the state store indexes by
    * key AND prunes by time. */
  def intervalJoin(left: DataFrame, right: DataFrame,
      lKey: String, lTime: String, rKey: String, rTime: String,
      window: String): DataFrame =
    right.join(left, expr(
      s"$rKey = $lKey AND $rTime >= $lTime AND $rTime <= $lTime + interval $window"))

  /** Stream-static enrichment: join a streaming fact against a batch
    * dimension table. The static side is re-planned every micro-batch
    * (so a dim refresh is picked up without restarting the query);
    * broadcasting it keeps each batch's join map-only — the stream is
    * never shuffled, which is the only sustainable shape when the stream
    * side is unbounded. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(broadcast(dim), Seq(key), "left_outer")

  /** Streaming heavy hitters: per tumbling window, the Misra-Gries
    * top-k over a token stream — the native [[graft.functions.FreqItemsAgg]]
    * composed into a watermarked streaming aggregate. State per window
    * is the k-counter sketch (constant, merge-safe across micro-batches
    * because TypedImperativeAggregate partials merge exactly like
    * map-side partials), so an unbounded vocabulary never accumulates
    * in the state store — the streaming shape of `approx_topk`. */
  def streamingTopK(toks: DataFrame, k: Int,
      lateness: String = "1 hour"): DataFrame =
    toks
      .withWatermark("ts_t", lateness)
      .groupBy(window(col("ts_t"), "1 hour"))
      .agg(graft.functions.FreqItemsAgg.freqItems(col("tok"), k).as("sketch"))
      .select(col("window.start").as("win_start"), posexplode(col("sketch")))
      .select(col("win_start"), (col("pos") + 1).cast("long").as("rk"),
        col("col.item").as("item"), col("col.min_count").as("min_count"))

  case class Ev2(user_id: Long, cents: Long)
  case class Tot(user_id: Long, n_events: Long, sum_cents: Long)

  /** Per-user running totals on the transformWithState API — Spark 4's
    * arbitrary-state v2 (SPARK-46815), the successor to
    * mapGroupsWithState: typed ValueState lives in the state store
    * across micro-batches (requires the RocksDB provider), Update mode
    * re-emits the refreshed total for every user a batch touches.
    * TTLConfig.NONE keeps the demo deterministic; a production deploy
    * bounds per-key state with a TTL instead of a watermark — the
    * right contract for keyed RUNNING state, which no watermark can
    * expire (totals never become "late", they just go cold). */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev2, Tot] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[Tot] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[Tot]("tot",
        org.apache.spark.sql.Encoders.product[Tot],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev2],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[Tot] = {
      val prev = if (state.exists()) state.get() else Tot(key, 0L, 0L)
      val upd = rows.foldLeft(prev) { (t, e) =>
        Tot(key, t.n_events + 1L, t.sum_cents + e.cents)
      }
      state.update(upd)
      Iterator.single(upd)
    }
  }

  /** The keyed-running-state streaming shape of `skew_level`'s batch
    * aggregate: same per-user (n, sum) totals, maintained incrementally. */
  def runningTotals(events: Dataset[Ev2]): Dataset[Tot] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  case class BandRow(doc_id: Long, bkey: String)
  case class BandVerdict(doc_id: Long, bkey: String, owner: Long)

  /** Per-row MinHash band keys — the MAP-ONLY streaming shape of
    * [[graft.llm.Dedup]]'s signature pipeline: same normalization, same
    * md5-derived hash pair, same 64-permutation universal family, same
    * 16×4 banding (StreamingMinhashSpec asserts set-equality against the
    * batch pipeline on the same docs). Two deliberate differences in HOW:
    * - the whole signature folds per ROW with higher-order array
    *   functions (aggregate/transform over the gram array) instead of a
    *   groupBy — a streaming aggregate is a stateful operator, and
    *   Structured Streaming allows chaining stateful operators only in
    *   narrow cases; per-row computation keeps the ONE stateful step of
    *   a streaming dedup the band-owner state itself;
    * - the hash is the SQL-built-in `conv(substr(md5(g),1,15),16,10)`
    *   twin of Md5Prefix64 (bit-identical by construction) so the
    *   expression works in any session without extension registration.
    * min() over duplicate grams is duplicate-insensitive, so skipping
    * the batch side's distinct() changes nothing. Docs with <3 tokens
    * have no shingles and are passed through with NO band keys — they
    * can never collide, matching the batch semantics. */
  def bandKeys(docs: DataFrame): Dataset[BandRow] = {
    import docs.sparkSession.implicits._
    bandSigRows(docs).select("doc_id", "bkey").as[BandRow]
  }

  /** Stream-side signature rows in the persisted index's OWN shape
    * (doc_id, sig, bkey) — same md5 permutation family as the batch
    * pipeline, computed map-only per row (streaming-safe, no state). */
  def bandSigRows(docs: DataFrame): DataFrame = {
    val h1 = "cast(conv(substr(md5(g), 1, 15), 16, 10) AS bigint) % 2147483647"
    val h2 = "cast(conv(substr(md5(concat(g, '!')), 1, 15), 16, 10) AS bigint) % 2147483646 + 1"
    docs
      .select(col("doc_id"), graft.llm.TextNorm.toks.as("w"))
      .filter(size(col("w")) >= 3)
      .withColumn("hs", expr(
        "transform(transform(sequence(0, size(w)-3), i -> concat(w[i],' ',w[i+1],' ',w[i+2])), " +
        s"g -> struct($h1 AS h1, $h2 AS h2))"))
      .withColumn("sig", expr(
        "transform(sequence(0, 63), j -> " +
        "aggregate(hs, 9223372036854775807L, (acc, h) -> least(acc, (h.h1 + j * h.h2) % 2147483647)))"))
      .select(col("doc_id"), col("sig"), explode(expr(
        "transform(sequence(0, 15), b -> " +
        "concat(b, ':', array_join(transform(slice(sig, b*4+1, 4), x -> cast(x AS string)), ',')))"))
        .as("bkey"))
  }

  /** Stream-static near-dup probe — the STREAMING sibling of the
    * dedup_delta gate: arriving documents are checked against the
    * PERSISTED corpus band index (graft.llm.Dedup.minhashIndex). The
    * stream side is map-only signature computation; the static side is
    * the bucketed index table, so every micro-batch's join probes
    * bucket-co-located postings and the operator carries NO streaming
    * state (pure append). A pair surfacing through several bands emits
    * once per band — dedupe in the sink (foreachBatch), where batch
    * semantics apply; the spec does exactly that. */
  def indexProbe(deltaDocs: DataFrame, corpusIndex: DataFrame): DataFrame =
    bandSigRows(deltaDocs)
      .join(corpusIndex.select(col("doc_id").as("corpus_id"),
        col("sig").as("csig"), col("bkey")), "bkey")
      .select(col("doc_id").as("delta_id"), col("corpus_id"),
        expr("size(filter(zip_with(sig, csig, (x, y) -> x = y), v -> v))")
          .cast("long").as("n_match"))
      .where(col("n_match") >= 32)

  /** Band-owner state: the first document ever seen on a band key owns
    * it; every later arrival on the same key is reported against that
    * owner. Rows are folded in doc_id order within a micro-batch so
    * same-batch races resolve deterministically (lowest id claims —
    * the keep_best convention). State is one long per distinct band
    * key; a production deploy bounds it with a TTL (band ownership
    * never becomes "late", it goes cold — same contract as
    * [[RunningTotalProcessor]]). */
  class BandOwnerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, BandRow, BandVerdict] {
    @transient private var owner: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      owner = getHandle.getValueState[Long]("owner",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[BandRow],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[BandVerdict] =
      rows.toSeq.sortBy(_.doc_id).iterator.map { r =>
        if (!owner.exists()) owner.update(r.doc_id)
        BandVerdict(r.doc_id, key, owner.get())
      }
  }

  /** Streaming MinHash near-dup detection: band keys per incoming doc
    * (map-only), one stateful band-owner step. Output: per (doc, band)
    * verdicts; roll up per doc with [[minhashKeepDecisions]] (in
    * foreachBatch or any downstream batch step — a second streaming
    * aggregate here would chain stateful operators). The streaming
    * sibling of the batch `dedup_minhash`/`dedup_keep_best` pair. */
  def streamingMinhashDedup(docs: DataFrame): Dataset[BandVerdict] = {
    import docs.sparkSession.implicits._
    bandKeys(docs)
      .groupByKey(_.bkey)
      .transformWithState(new BandOwnerProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Update())
  }

  /** A served IVF centroid carried INTO the streaming plan as a
    * literal (the cells of [[vectorProbe]]): cid, coordinates, norm. */
  case class CentLit(cid: Long, ce: Seq[Double], cnrm: Double)

  /** Stream-static embedding near-dup probe — the STREAMING sibling of
    * the semdedup_delta gate (and the embedding-space counterpart of
    * [[indexProbe]]): arriving vectors are checked against the
    * PERSISTED IVF index (graft.llm.AnnOps.ivfIndex). The coarse
    * quantizer's centroids ride the plan as a LITERAL array (they are
    * the index's O(√n) driver-held artifact, ~16 MB at 10⁹ vectors),
    * so assignment is a per-row argmax fold — no aggregation, hence no
    * streaming state and no watermark: the operator is pure append.
    * The static side is the bucketed cid-keyed assignment table, so a
    * micro-batch's join probes bucket-co-located cells only. Emits one
    * row per (delta, corpus) near-dup pair with the exact-integer
    * cosine; per-delta aggregation (count, argmax) belongs in the sink
    * where batch semantics apply — the spec replays it there.
    *
    * Argmax tie-break matches ivfAssign (highest cosine, then lowest
    * cid); an undefined cosine (zero-norm side) degrades to -2, below
    * every real cosine, exactly like the batch path's NULL ranking. */
  def vectorProbe(deltaVecs: DataFrame, assigned: DataFrame,
      cents: Seq[CentLit], minCos: Double): DataFrame = {
    val withCid = deltaVecs
      .withColumn("nrm", sqrt(graft.functions.DotProductD.dotD(col("e"), col("e"))))
      .withColumn("cents_arr", typedlit(cents))
      .withColumn("best", expr(
        """aggregate(
             transform(cents_arr, c -> named_struct(
               'cos', coalesce(
                 aggregate(zip_with(e, c.ce, (x, y) -> x * y), 0D, (s, v) -> s + v)
                   / nullif(nrm * c.cnrm, 0D), -2D),
               'cid', c.cid)),
             named_struct('cos', -3D, 'cid', CAST(-1 AS BIGINT)),
             (acc, x) -> CASE WHEN x.cos > acc.cos
                              OR (x.cos = acc.cos AND x.cid < acc.cid)
                         THEN x ELSE acc END)"""))
      .select(col("vec_id").as("delta_id"), col("e").as("de"),
        col("nrm").as("dn"), col("best.cid").as("cid"))
    withCid
      .join(assigned.select(col("cid"), col("vec_id").as("corpus_id"),
        col("e").as("be"), col("nrm").as("bn")), "cid")
      .withColumn("cos",
        when(col("dn") * col("bn") === 0, lit(null))
          .otherwise(graft.functions.DotProductD.dotD(col("de"), col("be"))
            / (col("dn") * col("bn"))))
      .where(col("cos") >= minCos)
      .select(col("delta_id"), col("corpus_id"),
        expr("try_cast(round(cos * 1000000, 0) AS BIGINT)").as("cos_micro"))
  }

  /** Stream-static paragraph-chunk probe — the STREAMING sibling of
    * the dedup_paragraph_delta gate, completing the probe family
    * (exact/minhash → [[indexProbe]], embedding → [[vectorProbe]],
    * paragraph → this): arriving documents are chunked and hashed
    * map-only (graft.llm.Dedup.paragraphChunks — the SAME expression
    * the batch gate oracles), then left-join the PERSISTED h-bucketed
    * chunk index (graft.llm.Dedup.chunkIndex) reduced to DISTINCT
    * hashes. Stateless pure append: no watermark, no streaming state —
    * every micro-batch probes bucket-co-located postings only. Emits
    * one row per delta chunk with its corpus-membership flag; the
    * per-doc keep roll-up ([[chunkKeepDecisions]]) belongs in the sink
    * where batch semantics apply. */
  def chunkProbe(deltaDocs: DataFrame, corpusChunks: DataFrame): DataFrame =
    chunkMembership(deltaDocs, corpusChunks.select("h").distinct())

  /** [[chunkProbe]] pre-wired to a corpus directory's PERSISTED
    * base-split chunk-hash set (graft.llm.Dedup.chunkHashesBase) —
    * the streaming twin of dedup_paragraph_delta's r16 production
    * plan. The persisted table is distinct by construction, so this
    * plan carries NO aggregate at all (generic [[chunkProbe]] must
    * distinct whatever corpus frame it is handed). */
  def chunkProbeFor(deltaDocs: DataFrame, s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    chunkMembership(deltaDocs, graft.llm.Dedup.chunkHashesBase(s, d))

  /** Delta chunks left-joined to a DISTINCT corpus hash set `hashes` (h). */
  private def chunkMembership(deltaDocs: DataFrame, hashes: DataFrame): DataFrame =
    graft.llm.Dedup.paragraphChunks(deltaDocs)
      .join(hashes.withColumn("in_corpus", lit(1L)), Seq("h"), "left")
      .select(col("doc_id").as("delta_id"), col("idx"), col("h"),
        coalesce(col("in_corpus"), lit(0L)).as("in_corpus"))

  /** Per-doc keep decision over [[chunkProbe]] rows (sink-side batch
    * roll-up): the dedup_paragraph_delta majority rule — keep iff at
    * most half the chunks already exist in the corpus. That gate IS
    * this roll-up over [[chunkProbeFor]], run as one batch. */
  def chunkKeepDecisions(probe: DataFrame): DataFrame =
    probe.groupBy("delta_id")
      .agg(count(lit(1)).as("n_chunks"), sum("in_corpus").as("n_dup"))
      .select(col("delta_id"), col("n_chunks"), col("n_dup"),
        when(col("n_dup") * 2 <= col("n_chunks"), 1L).otherwise(0L)
          .as("keep_doc"))

  /** Stream-static winnow-fingerprint probe — the STREAMING form of
    * the dedup_substring_delta gate (r16, completing the probe family
    * for the substring family): arriving documents winnow ONLY their
    * own text map-only (the codegen'd graft.functions.WinnowFps pass —
    * the SAME expression the batch gate and the index build use), then
    * probe the PERSISTED fp-bucketed base-split index through
    * [[graft.llm.Dedup.postingJoin]]'s probe form, the df stop-list
    * read from the PERSISTED [[graft.llm.Dedup.winnowDfBase]] stat
    * table (a static-static join folded into the base side — no
    * aggregate anywhere in the plan). Stateless pure append: no
    * watermark, no streaming state — one row per shared (delta_id,
    * base_id, fp). The per-pair n_shared roll-up is [[fpPairCounts]];
    * the batch gate is exactly that roll-up over [[fpProbeFor]]. */
  def fpProbe(deltaDocs: DataFrame, baseIndex: DataFrame, baseDf: DataFrame,
      dfCap: Long): DataFrame =
    graft.llm.Dedup.postingJoin(graft.llm.Dedup.winnowFps(deltaDocs),
      Some(baseIndex), "fp", dfCap, Some(baseDf))

  /** [[fpProbe]] pre-wired to a corpus directory's persisted base-split
    * winnow artifacts — the streaming twin of dedup_substring_delta. */
  def fpProbeFor(deltaDocs: DataFrame, s: org.apache.spark.sql.SparkSession,
      d: String, dfCap: Long = graft.llm.Dedup.WinnowDfCap): DataFrame =
    fpProbe(deltaDocs, graft.llm.Dedup.winnowIndexBase(s, d),
      graft.llm.Dedup.winnowDfBase(s, d), dfCap)

  /** Sink-side pair roll-up over [[fpProbe]] rows: the batch gate's
    * n_shared aggregate. */
  def fpPairCounts(probe: DataFrame): DataFrame =
    probe.groupBy("delta_id", "base_id").agg(count(lit(1)).as("n_shared"))

  /** Stream-static shingle probe — the STREAMING form of the
    * dedup_jaccard_delta gate (r16; with [[fpProbe]] this makes the
    * probe family symmetric with the batch O(delta) family across
    * every index type): arriving documents derive their distinct word
    * 3-grams map-only (graft.llm.Dedup.shingleRowsWithN1 — the gram set
    * graft.llm.Dedup.shinglesOf produces, with NO streaming-side
    * distinct, which would be a stateful aggregate) and carry their own
    * denominator n1 as a map-only column on every row. The probe is
    * [[graft.llm.Dedup.postingJoin]]'s probe form against the PERSISTED
    * gram-bucketed base-split index, the stop-gram list read from the
    * PERSISTED [[graft.llm.Dedup.shingleDfBase]] stat table: rows
    * (delta_id, n1, base_id, gram). Stateless pure append; the per-pair
    * intersection count, the n2 lookup and the Jaccard arithmetic are
    * [[gramPairJaccard]], and the batch gate is exactly that roll-up
    * over [[gramProbeFor]]. */
  def gramProbe(deltaDocs: DataFrame, baseIndex: DataFrame, baseDf: DataFrame,
      dfCap: Long): DataFrame =
    graft.llm.Dedup.postingJoin(graft.llm.Dedup.shingleRowsWithN1(deltaDocs),
      Some(baseIndex), "gram", dfCap, Some(baseDf))

  /** [[gramProbe]] pre-wired to a corpus directory's persisted
    * base-split shingle artifacts — the streaming twin of
    * dedup_jaccard_delta. */
  def gramProbeFor(deltaDocs: DataFrame, s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    gramProbe(deltaDocs, graft.llm.Dedup.shingleIndexBase(s, d),
      graft.llm.Dedup.shingleDfBase(s, d), graft.llm.Dedup.JaccardDfCap)

  /** Sink-side Jaccard roll-up over [[gramProbe]] rows: per-pair
    * intersection count (n1 rides every row, so first() recovers it
    * without a second stream pass), n2 from the persisted base size
    * table `baseSizes` (doc_id, n), then the batch gate's rounding
    * ([[graft.llm.Dedup.jaccardOf]]) + threshold. */
  def gramPairJaccard(probe: DataFrame, baseSizes: DataFrame,
      minJ: Double): DataFrame =
    probe.groupBy("delta_id", "base_id")
      .agg(count(lit(1)).as("inter"), first("n1").as("n1"))
      .join(baseSizes.select(col("doc_id").as("base_id"), col("n").as("n2")),
        "base_id")
      .withColumn("jaccard",
        graft.llm.Dedup.jaccardOf(col("inter"), col("n1"), col("n2")))
      .filter(col("jaccard") >= minJ)
      .select("delta_id", "base_id", "jaccard")

  /** Stream-static FlexDice outlier probe — the STREAMING sibling of
    * the flexdice_outliers gate, completing the probe family
    * (exact/minhash → [[indexProbe]], embedding → [[vectorProbe]],
    * paragraph → [[chunkProbe]], density-grid → this): arriving
    * (id, x, y) points are classified against a TRAINED dice
    * ([[graft.algos.FlexDice.trainedDice]] — the terminal-cell table
    * plus the training bounds). Each point's NLayers ancestor-cell
    * candidates are computed map-only against the SAME bounds the dice
    * was trained with ([[graft.algos.FlexDice.cellCandidates]]), then
    * equality-join the terminal cells; terminal cells are
    * prefix-disjoint so AT MOST ONE row survives per point. Stateless
    * pure append — no watermark, no streaming state. A point whose
    * verdict is SPARSE fell into a trained noise region; a point with
    * NO verdict row landed in a region the training corpus never
    * populated ("novel" — the strongest outlier signal); both
    * decisions belong in the sink where batch semantics apply (the
    * spec replays them there). */
  def cellProbe(deltaPts: DataFrame, terminal: DataFrame,
      xmin: Double, xmax: Double, ymin: Double, ymax: Double): DataFrame =
    graft.algos.FlexDice.cellCandidates(deltaPts, xmin, xmax, ymin, ymax)
      .join(terminal.select(col("level"), col("cx"), col("cy"),
        col("density"), col("n_objects")), Seq("level", "cx", "cy"))
      .select(col("id").as("delta_id"), col("level"), col("cx"), col("cy"),
        col("density"), col("n_objects"))

  /** Stream-static SRP-LSH embedding probe — the STREAMING sibling of
    * the dedup_embedding_lsh_delta gate, completing the probe family
    * (exact/minhash → [[indexProbe]], embedding/IVF → [[vectorProbe]],
    * paragraph → [[chunkProbe]], density-grid → [[cellProbe]], SRP →
    * this): arriving vectors compute their OWN band keys map-only —
    * the hyperplanes ride the plan as a LITERAL (LshBands · nb rows of
    * 64 doubles, ~10 KB; the [[vectorProbe]] centroid pattern), the
    * per-plane sign bits fold into per-band bucket keys in one
    * expression — then equality-join the PERSISTED bk-bucketed band
    * index (`bandIndex`: the O(delta·bands·occ) probe), and the
    * surviving candidates re-rank by exact cosine against the vec_id-
    * bucketed `store`. Stateless pure append: no watermark, no
    * streaming state, no distinct — a pair colliding in several bands
    * emits once PER BAND (cos is pair-determined, so the duplicates
    * carry identical values); the per-pair DISTINCT and any per-delta
    * argmax belong in the sink where batch semantics apply (the spec
    * replays them there). Bit parity with the batch index is exact:
    * the zip_with/aggregate fold is the same ascending-index double
    * accumulation as the codegen'd dot the index was built with. */
  def lshProbe(deltaVecs: DataFrame, bandIndex: DataFrame, store: DataFrame,
      planes: Seq[Seq[Double]], nb: Int, minCos: Double): DataFrame = {
    require(nb > 0 && planes.nonEmpty && planes.size % nb == 0,
      s"planes (${planes.size}) must be bands*nb (nb=$nb)")
    val bands = planes.size / nb
    val bandExpr =
      s"""transform(sequence(0, ${bands - 1}), b -> named_struct(
            'band', CAST(b AS BIGINT),
            'bk', aggregate(sequence(0, ${nb - 1}), CAST(0 AS BIGINT),
              (acc, i) -> acc + shiftleft(
                CASE WHEN aggregate(
                       zip_with(e, element_at(planes_arr, b * $nb + i + 1),
                                (x, y) -> x * y),
                       CAST(0 AS DOUBLE), (s, v) -> s + v) >= 0D
                     THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, i))))"""
    val keyed = deltaVecs
      .withColumn("dn", sqrt(graft.functions.DotProductD.dotD(col("e"), col("e"))))
      .withColumn("planes_arr", typedlit(planes))
      .withColumn("bb", explode(expr(bandExpr)))
      .select(col("vec_id").as("delta_id"), col("e").as("de"), col("dn"),
        col("bb.band").as("band"), col("bb.bk").as("bk"))
    keyed
      .join(bandIndex.select(col("band"), col("bk"),
        col("vec_id").as("base_id")), Seq("band", "bk"))
      .join(store.select(col("vec_id").as("base_id"), col("e").as("be"),
        col("nrm").as("bn")), "base_id")
      .withColumn("cos",
        when(col("dn") * col("bn") === 0, lit(null))
          .otherwise(graft.functions.DotProductD.dotD(col("de"), col("be"))
            / (col("dn") * col("bn"))))
      .where(col("cos") >= minCos)
      .select(col("delta_id"), col("base_id"), col("band"),
        expr("try_cast(round(cos * 1000000, 0) AS BIGINT)").as("cos_micro"))
  }

  /** [[lshProbe]] pre-wired to a corpus directory's persisted SRP
    * artifacts (graft.llm.AnnOps.lshStreamInputs) — the py4j-friendly
    * entry pysmoke drives: base side = the dedup_embedding_lsh_delta
    * gate's corpus split, so streaming the vec_id % 8 == 7 vectors is
    * an exact twin of that gate's pre-aggregate pairs. */
  def lshProbeFor(deltaVecs: DataFrame, s: org.apache.spark.sql.SparkSession,
      d: String, minCos: Double): DataFrame = {
    val (base, store, planes, nb) = graft.llm.AnnOps.lshStreamInputs(s, d)
    lshProbe(deltaVecs, base, store, planes, nb, minCos)
  }

  /** Per-doc keep decision over [[streamingMinhashDedup]] verdicts: a
    * doc is a near-dup iff ANY of its bands is owned by an earlier doc;
    * dup_of = the smallest such owner (deterministic attribution). */
  def minhashKeepDecisions(verdicts: DataFrame): DataFrame =
    verdicts.groupBy("doc_id")
      .agg(min(when(col("owner") =!= col("doc_id"), col("owner"))).as("dup_of"))
      .select(col("doc_id"), col("dup_of"), col("dup_of").isNull.as("keep"))

  case class Ev(user_id: Long, ts_us: Long)
  case class Session(var start: Long, var last: Long, var n: Long)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

  /** Gap-based sessionization with explicit state
    * (flatMapGroupsWithState): events for a user whose gaps exceed
    * `gapUs` split into sessions; a closed session is emitted as soon as
    * the gap is observed, the open tail stays in state. Custom state is
    * the Spark idiom KMR users would reach for where the reference would
    * fork a stateful worker process. */
  def sessionize(events: Dataset[Ev], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Session, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[Session]) =>
          val sorted = evs.toSeq.sortBy(_.ts_us)
          var cur = state.getOption.orNull
          val closed = Seq.newBuilder[SessionOut]
          sorted.foreach { e =>
            if (cur == null) cur = Session(e.ts_us, e.ts_us, 1L)
            else if (e.ts_us - cur.last > gapUs) {
              closed += SessionOut(uid, cur.start, cur.last, cur.n)
              cur = Session(e.ts_us, e.ts_us, 1L)
            } else {
              // max() so a late cross-batch event can't rewind the open
              // session's frontier and fake a gap for the next event
              cur.last = math.max(cur.last, e.ts_us); cur.n += 1
            }
          }
          if (cur != null) state.update(cur)
          closed.result().iterator
      }
  }
}
