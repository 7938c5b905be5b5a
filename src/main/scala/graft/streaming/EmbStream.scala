package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Clustering

/** Structured-Streaming twins for the embedding-dedup family — the
  * streaming counterpart of [[graft.operators.Dedup.dd_semdedup]], the way
  * [[DocsStream.nearDupScreen]] twins the MinHash batch operators.
  */
object EmbStream {

  /** One gate decision per arriving vector. `admitted` = no
    * previously-admitted vector in the same quantizer cell was within
    * `threshold` cosine; otherwise `matched_id`/`cos` name the witness.
    * `state_full` marks decisions taken while the cell's state was at
    * capacity — an admitted vector NOT recorded for future comparisons,
    * so downstream can see exactly where recall was traded for bounded
    * state instead of discovering it later (the streaming analogue of
    * [[graft.operators.Dedup.capBucketsLoss]]).
    */
  case class EmbGate(vec_id: Long, cluster: Int, admitted: Boolean,
      matched_id: Option[Long], cos: Option[Double], state_full: Boolean)

  /** Streaming SemDeDup gate: admit a vector unless an already-admitted
    * vector in its cell is within `threshold` cosine.
    *
    * Scale shape, mirroring the batch operator exactly: cells come from
    * the SAME deterministic coarse assignment ([[Clustering.assignTo]] on
    * literal `cents` — pass the persisted IVF index's centroids to share
    * cells with it), so state shards by cell across executors and a new
    * vector compares against its OWN cell only — never the corpus. State
    * per cell is the admitted (vec_id, embedding) list, hard-capped at
    * `stateCap`: a cell that fills keeps admitting (availability over
    * dedup strictness) but flags every such decision `state_full`.
    * Within a batch, a cell's arrivals are processed in vec_id order, so
    * replaying the same batches reproduces the same admissions
    * bit-for-bit.
    *
    * Semantics vs the batch operator — greedy keeper set, NOT identical
    * on similarity chains: the gate compares an arrival against ADMITTED
    * vectors only (a refused vector is never recorded), so every refusal
    * has a KEPT witness. The batch audit flags a vector near ANY lower-id
    * cell member, flagged or not — on a chain v1 ≈ v2 ≈ v3 (v1 !≈ v3)
    * the batch keeps {v1} while the gate keeps {v1, v3}. The gate's set
    * is the right contract for an online filter (everything it dropped
    * is near something it KEPT — batch flagging can drop v3 whose only
    * witness v2 was itself dropped); the divergence is spec-pinned, not
    * accidental.
    *
    * Per-arrival cost: a linear witness scan of the cell's admitted list —
    * O(|cell state|) cosines, bounded by `stateCap` (the worst case is a
    * full hot cell: stateCap · dims multiply-adds per arriving vector;
    * SURVEY §8.5 records the realized per-row cost of the embeddings
    * chain, which these scans dominate). If hot cells dominate, shrink
    * cells (more centroids) before reaching for an in-cell prefilter — the
    * quantizer is the knob that bounds BOTH state and scan.
    *
    * State lifecycle: by default state never expires (`NoTimeout` — right
    * for bounded backfills). For an unbounded week-long run, pass
    * `stateTtlMs`: the input must then carry an `event_time` timestamp
    * column WITH a watermark (`stream.withWatermark("event_time", …)`),
    * and a cell idle past the TTL (no arrivals for `stateTtlMs` of event
    * time) has its admitted list dropped — a later near-dup of an expired
    * vector is RE-ADMITTED (visible as a second `admitted=true` row for
    * near-identical content; the same trade `ingestDedup` takes with
    * `dropDuplicatesWithinWatermark`). Expiry keys off each cell's own
    * last-arrival event time, so a hot cell never expires while it flows.
    */
  def semanticDedupGate(stream: DataFrame, cents: Seq[Seq[Double]],
      threshold: Double = 0.9, stateCap: Int = 10000,
      stateTtlMs: Option[Long] = None): Dataset[EmbGate] = {
    import stream.sparkSession.implicits._
    semanticDedupCore(stream, cents, threshold, stateCap, stateTtlMs)
      .map(c => EmbGate(c.vec_id, c.cluster, c.admitted, c.matched_id,
        c.cos, c.state_full))
  }

  /** [[EmbGate]] plus the arrival's embedding — the internal carrier that
    * lets [[embChain]] feed admitted vectors into the next stateful stage
    * without a join; [[semanticDedupGate]] projects it away so the public
    * decision frame stays payload-free.
    */
  private[streaming] case class EmbGateCarry(vec_id: Long, cluster: Int,
      admitted: Boolean, matched_id: Option[Long], cos: Option[Double],
      state_full: Boolean, embedding: Seq[Float])

  /** The ONE decision algebra behind [[semanticDedupGate]] and
    * [[embChain]]'s first stage (a separate chain spelling could drift).
    */
  private def semanticDedupCore(stream: DataFrame, cents: Seq[Seq[Double]],
      threshold: Double, stateCap: Int,
      stateTtlMs: Option[Long]): Dataset[EmbGateCarry] = {
    import stream.sparkSession.implicits._
    // the event-time attribute must pass through UNTOUCHED (no cast, no
    // rebuild) — its watermark metadata is what licenses EventTimeTimeout
    val ts = stateTtlMs match {
      case Some(_) => col("event_time")
      case None => lit(null).cast("timestamp").as("event_time")
    }
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val assigned = stream
      // a null embedding cannot be assigned (VecNearest is nullIntolerant
      // → null cluster → 'Null value appeared in non-nullable field' when
      // deserializing the Int, and every restart replays the same poison
      // batch) — drop at the edge, the same policy as null event times
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long"), col("embedding"),
        Clustering.assignTo(cents).getField("c").as("cluster"), ts)
    // a null event time cannot participate in an event-time lifecycle
    // (and would NPE the timeout bookkeeping) — drop it at the gate's
    // edge rather than crash-looping the query on one bad row
    val guarded =
      if (stateTtlMs.isDefined) assigned.filter(col("event_time").isNotNull)
      else assigned
    // state carries (maxEventTimeSeen, admitted): the running max makes
    // the timeout MONOTONE — a late-but-valid batch must never shorten a
    // previously-set expiry (GroupState doesn't expose the current
    // timeout, so the state remembers the arrival clock itself)
    guarded
      .as[(Long, Seq[Float], Int, java.sql.Timestamp)]
      .groupByKey(_._3)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (cell: Int, rows: Iterator[(Long, Seq[Float], Int, java.sql.Timestamp)],
            state: GroupState[(Long, List[(Long, Seq[Float])])]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val (seenTs, prior) = state.getOption.getOrElse((Long.MinValue, Nil))
            var admitted = prior
            var n = admitted.size
            val batch = rows.toSeq
            val out = batch.sortBy(_._1).map { case (id, vec, _, _) =>
              val witness = admitted.iterator
                .map { case (aid, avec) => (aid, cosine(vec, avec)) }
                .find(_._2 >= threshold)
              witness match {
                case Some((aid, c)) =>
                  EmbGateCarry(id, cell, admitted = false, Some(aid), Some(c),
                    n >= stateCap, vec)
                case None =>
                  val full = n >= stateCap
                  if (!full) { admitted = (id, vec) :: admitted; n += 1 }
                  EmbGateCarry(id, cell, admitted = true, None, None, full, vec)
              }
            }
            val maxTs = stateTtlMs match {
              case Some(_) =>
                math.max(seenTs, batch.iterator.map(_._4.getTime).max)
              case None => seenTs
            }
            state.update((maxTs, admitted))
            stateTtlMs.foreach { ttl =>
              // expire relative to the cell's latest arrival EVER seen;
              // the timestamp must sit past the current watermark or
              // Spark rejects it (a TTL shorter than the watermark delay)
              state.setTimeoutTimestamp(StateClock.monotoneTimeoutMs(
                maxTs, ttl, state.getCurrentWatermarkMs()))
            }
            out.iterator
          }
        })
  }

  /** One diversity decision per arriving vector: `admitted` = no center
    * of the shard's online k-center sketch covered the arrival (it
    * entered the sketch — possibly merged away again by the doubling its
    * own arrival triggered, the doubling algorithm's normal compaction);
    * `witness_d2`/`witness_id` name the covering center otherwise;
    * `radius2` and `n_centers` are the shard sketch AFTER the decision,
    * so a consumer can watch coverage coarsen as the stream grows.
    * `retained` = the arrival is still IN the sketch after its own
    * decision's doubling cascade — the flag a consumer materializing
    * "the bounded diverse subset" filters on (`admitted` alone is a
    * superset: an admitted-then-compacted arrival never made the
    * sketch). Decision-time truth: a later arrival's cascade can still
    * merge a retained center away; refusals are never retained.
    */
  case class DivGate(vec_id: Long, shard: Int, admitted: Boolean,
      witness_id: Option[Long], witness_d2: Option[Double],
      radius2: Double, n_centers: Int, retained: Boolean)

  /** Streaming DIVERSITY gate — the stream edge of the k-center family
    * ([[graft.operators.Clustering.samp_kcenter_sharded]]'s coreset
    * pattern run ONLINE): per shard (`pmod(vec_id, shards)` — the same
    * content-free sharding, so state scales out across executors), the
    * doubling algorithm for streaming k-center (Charikar–Chekuri–
    * Feder–Motwani 1997's incremental clustering): admit an arrival iff
    * its squared distance to every admitted center exceeds the shard's
    * current `radius2`; when admitting would exceed `kPerShard` centers,
    * the radius doubles (×4 in d² space, seeded at first overflow from
    * the minimum pairwise center d²) and centers within the new radius
    * of an earlier-kept center are merged away (insertion-order scan,
    * keep-the-earlier — deterministic), repeating until the sketch fits.
    * The RETAINED rows (`retained` — post-cascade sketch membership; the
    * `admitted` flag alone is a superset that includes arrivals the
    * cascade merged straight back out) form a bounded-size diverse
    * subset whose coverage radius is within the doubling algorithm's
    * constant factor of the best k-center clustering of everything seen
    * — the online analogue of the batch coreset's per-shard phase
    * (spec-pinned ≤8× [[graft.operators.Clustering.samp_kcenter_sharded]]
    * at matched budget; ~2–4× measured).
    *
    * Scale/state shape: ≤ `kPerShard` (vec_id, embedding) pairs + one
    * double per shard — hard-bounded by construction (the doubling step
    * IS the cap; no `state_full` escape hatch needed, unlike
    * [[semanticDedupGate]] whose state grows with admissions). Per
    * arrival: one O(|centers| · dims) witness scan. Within a batch a
    * shard's arrivals are processed in vec_id order — replaying the same
    * batches reproduces every decision bit-for-bit (spec-pinned against
    * a driver-side replay of the identical algebra).
    *
    * Lifecycle: NoTimeout — the sketch is the WHOLE stream's coverage,
    * so it must not expire mid-run (built for bounded backfills / epoch
    * deployments; an unbounded deployment redeploys per epoch, the
    * curation-gate convention).
    */
  def diversityGate(stream: DataFrame, kPerShard: Int = 8,
      shards: Int = 4): Dataset[DivGate] = {
    import stream.sparkSession.implicits._
    require(kPerShard >= 1,
      s"diversityGate: kPerShard=$kPerShard must be >= 1")
    require(shards >= 1, s"diversityGate: shards=$shards must be >= 1")
    stream
      // null embeddings cannot cover or be covered — drop at the edge
      // (the semanticDedupGate policy)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").cast("long"),
        pmod(col("vec_id"), lit(shards.toLong)).cast("int").as("shard"),
        col("embedding"))
      .as[(Long, Int, Seq[Float])]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (shard: Int, rows: Iterator[(Long, Int, Seq[Float])],
            state: GroupState[(Double, List[(Long, Seq[Float])])]) => {
          val (r0, c0) = state.getOption.getOrElse((0.0, Nil))
          var r2 = r0
          // centers kept in INSERTION order (head = oldest) — the merge
          // scan's keep-the-earlier rule depends on it
          var centers = c0
          val out = rows.toSeq.sortBy(_._1).map { case (id, _, vec) =>
            val witness = centers.iterator
              .map { case (cid, cvec) => (cid, sqDist(vec, cvec)) }
              .find(_._2 <= r2)
            witness match {
              case Some((cid, d)) =>
                DivGate(id, shard, admitted = false, Some(cid), Some(d),
                  r2, centers.size, retained = false)
              case None =>
                centers = centers :+ ((id, vec))
                while (centers.size > kPerShard) {
                  r2 =
                    if (r2 > 0.0) r2 * 4.0
                    else centers.combinations(2).map {
                      case Seq((_, a), (_, b)) => sqDist(a, b)
                    }.min
                  centers = centers.foldLeft(List.empty[(Long, Seq[Float])]) {
                    (kept, c) =>
                      if (kept.exists(k => sqDist(k._2, c._2) <= r2)) kept
                      else kept :+ c
                  }
                }
                // admitted ≠ retained: the doubling cascade this very
                // decision triggered may merge the arrival straight back
                // out (it was uncovered at the OLD radius, covered at the
                // new one) — `retained` is post-cascade sketch membership,
                // so a consumer building "the diverse subset" filters on
                // it, not on `admitted`. Decision-time truth only: a LATER
                // arrival's cascade can still merge a retained center away
                // (the final sketch is the last batch's n_centers entries).
                DivGate(id, shard, admitted = true, None, None,
                  r2, centers.size, retained = centers.exists(_._1 == id))
            }
          }
          state.update((r2, centers))
          out.iterator
        })
  }

  /** The embeddings-ingest CHAIN — the [[DocsStream.c4Chain]] symmetry
    * for the vector edge: semantic dedup first (drop near-copies of
    * already-admitted content), then the diversity gate over what
    * survives (bound the admitted set's coverage sketch) — one composed
    * streaming query, TWO stateful stages (Spark runs chained
    * flatMapGroupsWithState stages in append mode; each keeps its own
    * state store, sharded by cell resp. vec_id shard).
    *
    * The first stage is [[semanticDedupGate]]'s EXACT decision algebra
    * (the shared [[semanticDedupCore]] — a chain respelling could drift),
    * carrying each admitted arrival's embedding straight into the
    * diversity stage with no join. The stage boundary is an `observe()`
    * barrier (`emb_sem`, admitted-row count; the final decisions census
    * is `emb_div`) — per-batch funnel telemetry in every
    * StreamingQueryProgress, and the same projection containment the doc
    * chain's barriers provide. Batch-parity is spec-pinned against the
    * two gates composed manually.
    *
    * Dedup state uses NoTimeout (the chain is an epoch/backfill
    * composition, the diversityGate lifecycle); deploy the TTL'd dedup
    * gate separately when an unbounded run needs expiring cells.
    */
  def embChain(stream: DataFrame, cents: Seq[Seq[Double]],
      threshold: Double = 0.9, stateCap: Int = 10000,
      kPerShard: Int = 8, shards: Int = 4): Dataset[DivGate] = {
    import stream.sparkSession.implicits._
    val admitted = semanticDedupCore(stream, cents, threshold, stateCap, None)
      .filter(_.admitted)
      .map(c => (c.vec_id, c.embedding))
      .toDF("vec_id", "embedding")
      .observe("emb_sem", count(lit(1)).as("rows"))
    // emb_div carries the full funnel census (decisions, diversity
    // admissions, decision-time retentions), not just a row count: every
    // decision row is emitted exactly once in append mode, so SUMMING
    // these metrics across a run's StreamingQueryProgress events yields
    // the exact stream census however the source splits the replay into
    // micro-batches — the throughput drive reads its admitted/retained
    // numbers from here instead of assuming a single-batch replay
    diversityGate(admitted, kPerShard, shards)
      .observe("emb_div", count(lit(1)).as("rows"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("admitted"),
        sum(when(col("retained"), 1L).otherwise(0L)).as("retained"))
  }

  /** Plain-Scala squared euclidean distance — the same left-to-right
    * double fold as [[graft.functions.VecNearest]]; loud on a dims
    * mismatch (the [[cosine]] contract).
    */
  private[streaming] def sqDist(a: Seq[Float], b: Seq[Float]): Double = {
    require(a.length == b.length,
      s"sqDist: dims mismatch ${a.length} vs ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Plain-Scala cosine over float vectors — double accumulation, the same
    * operation order as [[graft.functions.VecDot]]'s fast path. Fails loud
    * on a dims mismatch (same contract as [[graft.functions.VecNearest]]):
    * a mis-sized streamed vector is a data bug, and gating it on a silent
    * prefix cosine would hide it.
    */
  private[streaming] def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    require(a.length == b.length,
      s"cosine: dims mismatch (${a.length} vs ${b.length}) — " +
        "streamed vectors must share the corpus dimensionality")
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val len = a.length
    while (i < len) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** The persisted IVF index's coarse centroids ([[
    * graft.operators.Similarity.writeIvfPqIndex]] layout), for gating a
    * stream on the SAME cells a batch index serves — KBs, loaded
    * driver-side once through the index's own sidecar decoder.
    */
  def centroidsOf(s: SparkSession, indexPath: String): Seq[Seq[Double]] =
    graft.operators.Similarity.loadCentroids(s, indexPath)
}
