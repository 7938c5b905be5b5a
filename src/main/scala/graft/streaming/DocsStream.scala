package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Ingest-time near-duplicate screening: a STREAM of incoming documents is
  * checked against a STATIC band index of the existing corpus — the gate a
  * training-data pipeline runs before admitting new documents.
  *
  * Per-document signatures use the pure-expression minhash form
  * ([[graft.functions.TextFunctions.minhash]]), NOT the aggregate form the
  * batch operators use: per-row expressions keep the stream STATELESS — no
  * groupBy state, no watermark needed — and the stream-static equi-join on
  * (band, bkey) holds no streaming state either (the static side's FILE
  * LISTING is captured at build — restart the query to pick up a grown
  * corpus index; see [[storeDedupGate]]'s refresh note).
  * A matched pair may emit once per shared band (a streaming
  * dropDuplicates would need unbounded state without an event-time
  * column); collapse per batch downstream via foreachBatch if exact
  * multiplicity matters.
  */
object DocsStream {

  /** Band index over (doc_id, text) rows — works for both the static
    * corpus side and the probe stream (same pipeline ⇒ same keys).
    */
  def bandIndex(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame =
    docs
      .withColumn("hs", hashedShingles(col("text"), 3)) // staged once; see TextFunctions
      .withColumn("sig", minhash(col("hs"), k))
      .select(col("doc_id"), col("sig"),
        posexplode(minhashBands(col("sig"), k, bands)))
      .select(col("doc_id"), col("sig"), col("pos").as("band"), col("col").as("bkey"))

  /** Ingest-time curation gate: the batch curation Columns (Gopher quality
    * criteria, normalized-text digest, content-addressed split) applied to a
    * document STREAM — the operators are plain Column expressions, so the
    * EXACT batch definitions ([[graft.operators.TextAnalysis.gopherCriteria]],
    * [[normalize]], [[graft.operators.Curation.splitOf]]) drop into
    * `readStream` unchanged. Stateless: no watermark, no state store — a
    * map-only pass-through at any ingest rate; downstream exact dedup groups
    * on the emitted digest.
    */
  def curationGate(stream: DataFrame): DataFrame = {
    val (okCount, okMean, okStops) = graft.operators.TextAnalysis.gopherCriteria()
    stream
      .filter(okCount && okMean && okStops)
      .withColumn("digest", md5(normalize(col("text"))))
      .withColumn("split", graft.operators.Curation.splitOf(col("text")))
  }

  /** Ingest-time MIXTURE gate: enforce a target domain mixture on a
    * document stream with the batch sampler's exact keep decision
    * ([[graft.operators.Curation.samp_mixture]]): per-source hex
    * thresholds — precomputed from a batch census, the production shape
    * (yesterday's counts set today's rates) — broadcast against the
    * stream, admit iff md5-prefix < threshold. STATELESS and map-only
    * (membership is a pure function of content + the threshold table),
    * so replay, reordering, and repartitioning cannot change the admitted
    * set, and the gate keeps up at any ingest rate. A doc from a source
    * absent from `rates` is dropped (inner join) — the conservative
    * default for an allow-listed mixture.
    */
  def mixtureGate(stream: DataFrame, rates: DataFrame): DataFrame =
    stream
      .withColumn("p6", substring(md5(col("text")), 1, 6))
      .join(broadcast(rates), Seq("source"))
      .filter(col("p6") < col("thr"))
      .drop("p6", "thr")

  /** Ingest-time EXACT dedup with bounded state: admit a document only if
    * its normalized-content digest has not been seen within the watermark
    * horizon. `dropDuplicates` on an unbounded stream keeps every digest
    * forever — state grows with the corpus; `dropDuplicatesWithinWatermark`
    * expires digests once the event-time watermark passes them, so state is
    * bounded by (ingest rate × horizon) regardless of total corpus size.
    * The right gate for the dominant real-world duplicate mode (the same
    * document re-crawled/re-submitted close in time); corpus-wide historical
    * dedup stays a batch job ([[graft.operators.Dedup.dd_exact]]).
    * Expects an `ingest_ts` timestamp column (arrival time) plus `text`.
    */
  def ingestDedup(stream: DataFrame, horizon: String = "10 minutes"): DataFrame =
    stream
      // null text carries no content to be a copy OF (the batch family's
      // dd_exact guard): md5(normalize(null)) is null for EVERY such doc,
      // and dropDuplicatesWithinWatermark treats null keys as equal — two
      // distinct extraction failures in one horizon would silently drop
      // all but the first. Pass them through un-deduped instead? No — the
      // gate's contract is "admitted docs carry a digest"; exclude them
      // exactly like the batch operator.
      .filter(col("text").isNotNull)
      .withColumn("digest", md5(normalize(col("text"))))
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("digest")

  /** Per-source quota admission (ingest control): admit at most `quota`
    * documents per source — the gate that stops one domain/source from
    * flooding a training mix as it is ingested (the streaming counterpart
    * of the batch cap in [[graft.operators.Curation.samp_reservoir]]).
    * State per source is one small tuple; admission within a batch is
    * ordered by (doc_id) so replaying the same batches admits the same
    * documents. flatMapGroupsWithState because the output is the admitted
    * ROWS, not an aggregate.
    *
    * `stateTtlMs` picks the state lifecycle EXPLICITLY (no default — an
    * unbounded run must not end up with immortal state by accident):
    *  - `None`: lifetime quota; one state entry per source forever. Right
    *    for bounded backfills. Rows may carry `null` event time (`_4` is
    *    ignored).
    *  - `Some(ttl)`: a source idle past `ttl` of EVENT time has its
    *    admitted-count state DROPPED, so its quota window resets after
    *    inactivity (and a long-dead source stops costing state) — "at
    *    most `quota` docs per source per activity burst", the right
    *    contract for rolling ingest (a daily TTL ≈ a daily quota). The
    *    stream must carry a watermark on the `_4` event-time column
    *    (`withWatermark` before the gate); null event times are dropped
    *    at the edge (they can't drive an event-time lifecycle and would
    *    NPE the bookkeeping). Expiry keys off the source's own latest
    *    arrival EVER seen — the running max keeps the timeout monotone,
    *    so an active source never resets mid-flow and a late-but-valid
    *    straggler batch never shortens a prior expiry.
    *
    * State-schema note: unifying the TTL variant widened the state type
    * from `Long` to `(Long, Long)` — a checkpoint written by the old
    * single-Long gate cannot restart under this one (Spark's state-store
    * schema check fails). That is Structured Streaming's general contract
    * for `flatMapGroupsWithState` state types: evolving one means draining
    * the stream and starting a fresh checkpoint (or writing a one-off
    * state migration with the State Data Source). Plan state types as API.
    */
  def quotaGate(
      docs: org.apache.spark.sql.Dataset[(String, Long, String, java.sql.Timestamp)],
      quota: Long, stateTtlMs: Option[Long]): org.apache.spark.sql.Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf =
      if (stateTtlMs.isDefined) GroupStateTimeout.EventTimeTimeout
      else GroupStateTimeout.NoTimeout
    val in = if (stateTtlMs.isDefined) docs.filter(_._4 != null) else docs
    in.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutConf)(
        (source: String, rows: Iterator[(String, Long, String, java.sql.Timestamp)],
            state: GroupState[(Long, Long)]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // state = (admitted count, max event time EVER seen); the max
            // stays at Long.MinValue (and is never consulted) without a TTL
            val (admitted, seenTs) = state.getOption.getOrElse((0L, Long.MinValue))
            val room = math.max(quota - admitted, 0L)
            // one pass: track the batch's max event time while draining or
            // heap-selecting — a saturated source is drained without
            // buffering or sorting (the flooding case is exactly when the
            // room == 0 branch runs)
            var maxTs = seenTs
            val ids = stateTtlMs match {
              case Some(_) => rows.map { r => maxTs = math.max(maxTs, r._4.getTime); r._2 }
              case None => rows.map(_._2)
            }
            val take =
              if (room == 0L) { ids.foreach(_ => ()); Seq.empty[Long] }
              else admitSmallest(ids, room)
            state.update((admitted + take.size, maxTs))
            stateTtlMs.foreach { ttl =>
              // the timeout must sit past the current watermark or Spark
              // rejects it (a TTL shorter than the watermark delay)
              state.setTimeoutTimestamp(StateClock.monotoneTimeoutMs(
                maxTs, ttl, state.getCurrentWatermarkMs()))
            }
            take.iterator.map(id => (source, id))
          }
        })
  }

  /** Lifetime-quota convenience over (source, doc_id, text) rows with no
    * event-time column — widens with a null timestamp and runs
    * [[quotaGate]] with `stateTtlMs = None`. Kept for callers whose input
    * genuinely has no event time (and therefore could never pick a TTL).
    */
  def quotaGate(docs: org.apache.spark.sql.Dataset[(String, Long, String)],
      quota: Long): org.apache.spark.sql.Dataset[(String, Long)] = {
    import docs.sparkSession.implicits._
    quotaGate(docs.map(r => (r._1, r._2, r._3, null: java.sql.Timestamp)),
      quota, stateTtlMs = None)
  }

  /** Alias for [[quotaGate]] with `stateTtlMs = Some(ttlMs)` — the original
    * name of the expiring variant, kept so existing call sites read as what
    * they do.
    */
  def quotaGateExpiring(
      docs: org.apache.spark.sql.Dataset[(String, Long, String, java.sql.Timestamp)],
      quota: Long, ttlMs: Long): org.apache.spark.sql.Dataset[(String, Long)] =
    quotaGate(docs, quota, stateTtlMs = Some(ttlMs))

  /** Select the `room` smallest doc_ids from a batch WITHOUT materializing
    * it: a bounded max-heap of capacity `min(room, batch)` — a flooding
    * source that still has quota room costs O(room) memory, not O(batch).
    * (The previous `toSeq.sortBy` buffered the entire per-source batch on
    * one task.) Returns the admitted ids in ascending order, same
    * replay-deterministic selection as the full sort. `room` is clamped
    * before toInt so a >2^31 quota cannot wrap negative.
    */
  private[streaming] def admitSmallest(ids: Iterator[Long], room: Long): Seq[Long] = {
    val cap = math.min(room, Int.MaxValue.toLong).toInt
    val heap = scala.collection.mutable.PriorityQueue.empty[Long] // max-heap
    ids.foreach { id =>
      if (heap.size < cap) heap.enqueue(id)
      else if (id < heap.head) { heap.dequeue(); heap.enqueue(id) }
    }
    heap.dequeueAll.reverse // ascending
  }

  /** Screen a document stream (or batch frame) against a corpus band index;
    * emits (in_doc, corpus_doc, est_jaccard) for collisions with estimated
    * Jaccard ≥ threshold.
    */
  def nearDupScreen(stream: DataFrame, corpusIndex: DataFrame, k: Int = 32,
      bands: Int = 8, threshold: Double = 0.5): DataFrame = {
    val probe = bandIndex(stream, k, bands)
      .select(col("doc_id").as("in_doc"), col("sig").as("in_sig"),
        col("band"), col("bkey"))
    val corpus = corpusIndex
      .select(col("doc_id").as("corpus_doc"), col("sig").as("corpus_sig"),
        col("band"), col("bkey"))
    probe.join(corpus, Seq("band", "bkey"))
      .filter(col("in_doc") =!= col("corpus_doc"))
      .select(col("in_doc"), col("corpus_doc"),
        (aggregate(zip_with(col("in_sig"), col("corpus_sig"),
          (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, x) => acc + x)
          .cast("double") / k).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Ingest-time EXACT screening against the PERSISTED corpus signature
    * store ([[graft.operators.Dedup.writeCorpusSignatures]]) — the
    * streaming face of [[graft.operators.Dedup.dd_incremental_stored]]'s
    * exact half: a stream-static left join on content digest tags each
    * arriving document `exact_dup` (with the smallest matching corpus doc
    * as match_id) or `unseen`. Stateless — no state store, no watermark.
    *
    * Store-refresh semantics: the store is resolved ONCE, at gate build —
    * `spark.read.parquet` captures the file listing in an
    * InMemoryFileIndex, and stream-static joins re-EXECUTE the static
    * plan per micro-batch but never re-LIST a path-based source; the
    * Bloom sidecar is likewise loaded once and broadcast. A nightly
    * `writeCorpusSignatures` rewrite therefore requires a STREAM RESTART
    * to take effect with either `useBloom` setting (a mode("overwrite")
    * rewrite under a running gate risks FileNotFoundException on the
    * captured listing — schedule restarts with the rebuild). `useBloom`
    * only trades the per-batch store-scan cost for the broadcast sketch;
    * it does not change freshness. Near-duplicate screening at ingest stays [[nearDupScreen]]'s
    * job (banded sketches); WITHIN-stream duplicates are [[ingestDedup]]'s
    * (the store only knows the corpus as of its last build). Callers gate
    * by filtering `verdict = 'unseen'`.
    */
  def storeDedupGate(stream: DataFrame,
      spark: org.apache.spark.sql.SparkSession, storePath: String,
      useBloom: Boolean = true): DataFrame = {
    val probed = stream.withColumn("digest", md5(col("text")))
    val store = spark.read.parquet(s"$storePath/digests")
    // frame-PRESERVING like the sibling gates (mixtureGate, ingestDedup):
    // a stream carrying source/lang/ts keeps them, so the documented
    // composition storeDedupGate → filter(unseen) → mixtureGate works
    // without a re-join on doc_id
    def verdictOf(joined: DataFrame): DataFrame = joined
      .withColumn("verdict", when(col("bmatch").isNotNull, lit("exact_dup"))
        .otherwise(lit("unseen")))
      .withColumn("match_id", col("bmatch"))
      .drop("digest", "bmatch")
    (if (useBloom) graft.operators.Dedup.loadDigestBloom(spark, storePath) else None) match {
      case None => verdictOf(probed.join(store, Seq("digest"), "left"))
      // the store side of this stream-static join is corpus-sized and
      // re-joined EVERY microbatch; the broadcast-Bloom sidecar splits
      // each batch map-side instead — definite negatives are 'unseen' by
      // construction (no false negatives) and never touch the store,
      // positives still confirm through the join (a ~1 % fp rate just
      // joins-and-misses). Output identical either way (spec'd).
      case Some(bloomHit) =>
        // one materialized probe bit, filtered twice: the union shape is
        // deliberate — definite-negatives must stay OUT of the store
        // exchange entirely (folding the bit into the join condition would
        // shuffle every row); the price is the second batch-local scan
        val tagged = probed.withColumn("bpass", bloomHit(col("digest")))
        verdictOf(tagged.filter(col("bpass"))
            .join(store, Seq("digest"), "left")).drop("bpass")
          .unionByName(tagged.filter(!col("bpass"))
            .withColumn("verdict", lit("unseen"))
            .withColumn("match_id", lit(null).cast("long"))
            .drop("digest", "bpass"))
    }
  }

  /** Ingest-time RAW-WEB EXTRACTION gate — the streaming face of
    * [[graft.operators.TextAnalysis.tx_extract]]: the SAME
    * [[graft.operators.TextAnalysis.extractCols]] pipeline (strip
    * script/style, per-line tag strip, word-count + link-density line
    * filters) applied to a document stream whose `text` column carries
    * raw page markup. Stateless, map-only (regex/HOF column ops), so the
    * gate keeps up at any ingest rate and cannot drift from the batch
    * operator. Emits the stream with the extraction audit columns and
    * `text` REPLACED by the cleaned content; pages that extract to
    * nothing (pure boilerplate) are dropped — they carry no trainable
    * content.
    */
  def extractGate(stream: DataFrame, minWords: Int = 3): DataFrame =
    graft.operators.TextAnalysis.extractCols(
        stream.filter(col("text").isNotNull).withColumn("t", col("text")),
        minWords)
      .withColumn("text", col("cleaned"))
      .drop("t", "cleaned")
      .filter(col("n_kept") > 0L)

  /** Ingest-time URL gate — C4's first screen at the stream edge: drop
    * documents whose registered domain (parsed by the SAME
    * [[graft.operators.TextAnalysis.urlDomain]] as the batch tx_url
    * family) sits on the blocklist. Stateless and map-only; a null or
    * unparseable `url` yields a null domain, which is dropped — the
    * conservative default for an ingest allow gate.
    */
  def urlGate(stream: DataFrame,
      blocklist: Seq[String] = graft.operators.TextAnalysis.urlBlocklist): DataFrame =
    stream
      .withColumn("domain", graft.operators.TextAnalysis.urlDomain(col("url")))
      .filter(!col("domain").isInCollection(blocklist))

  /** Ingest-time domain-AUTHORITY gate — the streaming face of the release
    * funnel's provenance stage ([[graft.operators.Graph.domainAuthority]]):
    * keep only documents whose registered domain sits in the authorized
    * set. The set is a per-crawl-SNAPSHOT batch artifact (link-graph
    * centrality is not computable at the stream edge — the graph IS the
    * batch corpus), so the gate takes it as a value, exactly like a real
    * deployment ships the Common Crawl domain-rank table to its ingest
    * tier; restart the query to pick up a new snapshot (the
    * storeDedupGate contract). Stateless, map-only; parses the domain with
    * the SAME [[graft.operators.TextAnalysis.urlDomain]] as every other
    * URL consumer, and a null/unparseable url drops (the urlGate default).
    */
  def authorityGate(stream: DataFrame, authorized: Seq[String]): DataFrame = {
    require(authorized.nonEmpty,
      "authorityGate: empty authorized set would drop the whole stream — " +
        "pass the batch domainAuthority output for the current snapshot")
    stream
      .withColumn("domain", graft.operators.TextAnalysis.urlDomain(col("url")))
      .filter(col("domain").isInCollection(authorized))
  }

  /** Ingest-time learned-scorer gate — the streaming face of
    * [[graft.operators.TextAnalysis.tx_score]]'s margin gate (and of
    * [[graft.operators.TextAnalysis.tx_score_trained]]'s when the caller
    * passes trained weights — like the authority set, trained weights are
    * a per-snapshot batch artifact shipped to the ingest tier as a value).
    * Same integer margin through the SAME [[graft.operators.TextAnalysis
    * .scoreRawWith]] fold, gate = margin > 0, so the stream edge and the
    * batch funnel cannot disagree on a document. Stateless, map-only;
    * null text drops (no trainable content). With extractGate → urlGate →
    * authorityGate → scoreGate the full C4-order provenance-then-content
    * ingest chain now exists at the stream edge.
    */
  def scoreGate(stream: DataFrame,
      weights: Seq[Long] =
        graft.operators.TextAnalysis.scoreWeights.map(_.toLong)): DataFrame =
    stream.filter(col("text").isNotNull)
      .withColumn("score_raw", graft.operators.TextAnalysis.scoreRawWith(
        graft.functions.TextFunctions.shingles(col("text"), 2), weights))
      .filter(col("score_raw") > 0L)

  /** Ingest-time LANGUAGE gate — the streaming face of
    * [[graft.operators.TextAnalysis.tx_langid2]]: keep documents whose
    * PREDICTED language is in `keep` (the monolingual-corpus edge filter —
    * an English-only training run drops everything else before it costs
    * storage). The trained weight table is a per-snapshot batch artifact
    * ([[graft.operators.TextAnalysis.trainLangidWeights]]) shipped to the
    * ingest tier as a value (the authorityGate / perplexityGate
    * contract; restart the query to pick up a retrained table).
    * Prediction is the SAME staged-bucket fold + struct-max as the batch
    * scorer ([[graft.operators.TextAnalysis.langidTop]] — one shared
    * definition), so the stream edge and the batch table can never
    * disagree on a document's language (batch-parity spec'd). Stateless,
    * map-only, weights are plan literals; null text drops; the
    * `predicted`/`margin` columns ride along for audit, the staged
    * buckets do not.
    */
  def langidGate(stream: DataFrame, weights: Map[String, Seq[Long]],
      keep: Set[String], minMargin: Long = Long.MinValue): DataFrame = {
    require(keep.nonEmpty,
      "langidGate: empty keep set would drop the whole stream — pass the " +
        "languages the corpus admits")
    val unknown = keep -- weights.keySet
    require(unknown.isEmpty,
      s"langidGate: keep languages ${unknown.mkString(",")} have no weight " +
        "row — the scorer can never predict them, so every document would " +
        "drop silently. Train weights covering them or fix the keep set.")
    // minMargin is the CCNet-style low-confidence drop: a doc whose
    // winning margin is weak (short text, mixed script) is more likely
    // mis-identified than in-language — production langid filters on the
    // classifier's confidence, not the argmax alone. The default is
    // Long.MinValue — keep EVERY argmax, preserving exact batch parity
    // with tx_langid2 — NOT 0: the winning margin is a raw one-vs-rest
    // score and can legitimately be negative (an out-of-distribution doc
    // where every language scores below zero still has an argmax).
    stream.filter(col("text").isNotNull)
      .withColumn("__bk", graft.operators.TextAnalysis.langidBuckets(col("text")))
      .withColumn("__top", graft.operators.TextAnalysis.langidTop(col("__bk"), weights))
      .withColumn("predicted", col("__top").getField("lang"))
      .withColumn("margin", col("__top").getField("m"))
      .drop("__bk", "__top")
      .filter(col("predicted").isInCollection(keep.toSeq) &&
        col("margin") >= minMargin)
  }

  /** Ingest-time URL DECONTAMINATION gate — the streaming face of
    * [[graft.operators.Curation.decon_url]]: drop documents whose
    * NORMALIZED url (the SAME [[graft.operators.TextAnalysis.normUrlStr]]
    * key as tx_url_dedup and the batch screen, so the stream edge and the
    * batch screen cannot disagree on a page) matches any benchmark
    * source URL. The eval-URL set is a per-benchmark-RELEASE batch
    * artifact (benchmarks publish their source URLs at KB-to-MB scale —
    * it ships to the ingest tier as a value, the authorityGate contract;
    * restart the query to pick up a new benchmark release). Stateless,
    * map-only — a broadcast-set membership probe per document.
    *
    * Unlike [[urlGate]]/[[authorityGate]] (ALLOW gates, where unknown
    * provenance must not pass), this is a REMOVE screen: a null or
    * unparseable url cannot match an eval URL, so it PASSES — dropping it
    * here would silently re-implement the allow gates' policy inside the
    * decon screen.
    */
  def deconUrlGate(stream: DataFrame, evalUrls: Seq[String]): DataFrame = {
    require(evalUrls.nonEmpty,
      "deconUrlGate: empty eval-URL set gates nothing — pass the " +
        "normalized source URLs of the benchmark release being screened")
    val norm = graft.operators.TextAnalysis.normUrlStr(col("url"))
    stream.filter(norm.isNull || !norm.isInCollection(evalUrls))
  }

  /** Ingest-time RETRIEVAL-DECON gate — the streaming face of
    * [[graft.operators.Curation.decon_bm25]]: drop documents whose
    * exact-integer BM25 score against ANY eval-doc query reaches
    * `maxScoreFp` (units of 2⁻²⁰·ppm, the batch screen's score_fp
    * scale). The query table ships as a VALUE from
    * [[graft.operators.Curation.bm25GateArtifact]] — same
    * `bm25QueryFrames` artifact as the batch screen, so the two can
    * never score a document differently; N and S are the artifact
    * snapshot's train-corpus stats (scores are relative to the corpus
    * the benchmark was screened against — restart the query to re-pin).
    *
    * Stateless, map-only: the per-document score is pure column algebra
    * over the broadcast-literal query structs (HOF fold per query —
    * O(|eval|·m·dl) integer ops per doc, no state, no shuffle). The
    * query table rides the PLAN as a typedLit — right for benchmark
    * releases (10²–10⁴ query structs); past ~10⁴ the literal
    * re-serializes into every micro-batch plan and the perplexityGate
    * device applies (ship the table as a broadcast consumed by one
    * justified Scala UDF). Like
    * [[deconUrlGate]] this is a REMOVE screen: a null-text doc scores 0
    * and PASSES (it cannot legitimately contaminate); dropping it is the
    * allow gates' policy, not the decon screen's. A document longer than
    * `maxDl` tokens would silently overflow the BIGINT-exact score, so
    * it fails LOUDLY in-plan instead (raise_error — poisoned arithmetic
    * must not quietly pass a contaminated doc).
    */
  /** Shared config validation + score constants of [[bm25Gate]] and
    * [[bm25GateBroadcast]] — (numC, denTf, denC, denDl): score per term =
    * idf_fp · ((numC·tf) div (denTf·tf + denC + denDl·dl)).
    */
  private def bm25GateConsts(n: Long, sTot: Long,
      queries: Seq[(Long, Seq[(String, Long)])], maxScoreFp: Long,
      maxDl: Long): (Long, Long, Long, Long) = {
    import graft.operators.TextAnalysis.{bm25K1n, bm25K1d, bm25Bn, bm25Bd}
    require(queries.nonEmpty,
      "bm25Gate: empty query table gates nothing — build it with " +
        "Curation.bm25GateArtifact for the benchmark release being screened")
    require(n >= 1L && sTot >= 1L,
      s"bm25Gate: artifact stats N=$n, S=$sTot — the artifact snapshot " +
        "priced no training tokens; rebuild it")
    require(maxScoreFp >= 1L,
      s"bm25Gate: maxScoreFp=$maxScoreFp would drop every document " +
        "(all scores are >= 0)")
    require(maxDl >= 1L &&
      sTot <= Long.MaxValue / (1000000L * bm25Bd * (bm25K1n + bm25K1d)) / maxDl,
      s"bm25Gate: S=$sTot with maxDl=$maxDl exceeds the BIGINT-exact " +
        "range — widen to DECIMAL or lower maxDl")
    (1000000L * bm25Bd * (bm25K1n + bm25K1d) * sTot,
      bm25K1d * bm25Bd * sTot,
      bm25K1n * (bm25Bd - bm25Bn) * sTot,
      bm25K1n * bm25Bn * n)
  }

  def bm25Gate(stream: DataFrame, n: Long, sTot: Long,
      queries: Seq[(Long, Seq[(String, Long)])], maxScoreFp: Long,
      maxDl: Long = 1L << 20): DataFrame = {
    val (numC, denTf, denC, denDl) =
      bm25GateConsts(n, sTot, queries, maxScoreFp, maxDl)
    val qLit = typedLit(queries.map { case (e, ts) =>
      (e, ts.map(_._1), ts.map(_._2))
    })
    // tf is computed ONCE per query term (the inner transform stages
    // (tf, idf) structs) — the naive form repeats the token-array scan in
    // the numerator and denominator, doubling the dominant per-document
    // cost of this hot path
    val scoredSql =
      s"""array_max(transform(__q, q -> struct(
         |  aggregate(
         |    transform(zip_with(q._2, q._3, (t, i) -> struct(t AS t, i AS i)),
         |      p -> struct(cast(size(filter(__w, x -> x = p.t)) AS bigint) AS tf,
         |                  p.i AS i)),
         |    0L,
         |    (acc, p) -> acc + p.i *
         |      ((${numC}L * p.tf)
         |       div (${denTf}L * p.tf + ${denC}L + ${denDl}L * __dl))
         |  ) AS score,
         |  -q._1 AS ne)))""".stripMargin
    stream
      .withColumn("__w",
        coalesce(graft.functions.TextFunctions.words(col("text")),
          array().cast("array<string>")))
      .withColumn("__dl", size(col("__w")).cast("long"))
      .withColumn("__dl", when(col("__dl") > maxDl,
          raise_error(concat(lit(s"bm25Gate: document exceeds maxDl=$maxDl " +
            "tokens — its score would overflow the BIGINT-exact range; " +
            "got dl="), col("__dl").cast("string"))))
        .otherwise(col("__dl")))
      .withColumn("__q", qLit)
      .withColumn("__best", expr(scoredSql))
      .withColumn("bm25_score_fp", col("__best").getField("score"))
      .withColumn("bm25_best_eval", -col("__best").getField("ne"))
      .drop("__w", "__dl", "__q", "__best")
      .filter(col("bm25_score_fp") < maxScoreFp)
  }

  /** [[bm25Gate]] for LARGE query tables — the perplexityGate device: the
    * typedLit form re-serializes the whole query table into every
    * micro-batch plan, which is right for a benchmark release (10²–10⁴
    * structs) and wrong for a full benchmark SUITE; here the table ships
    * ONCE as a broadcast consumed by one justified Scala UDF replaying
    * the identical integer algebra (tf counted once per doc over the
    * union query vocabulary, same numC/denTf/denC/denDl constants, max
    * score with ties to the smallest eval id), so outputs are bit-equal
    * to [[bm25Gate]] — parity spec'd. Same REMOVE-screen semantics (null
    * text scores 0 and passes) and the same loud maxDl overflow refusal.
    */
  def bm25GateBroadcast(stream: DataFrame, n: Long, sTot: Long,
      queries: Seq[(Long, Seq[(String, Long)])], maxScoreFp: Long,
      maxDl: Long = 1L << 20): DataFrame = {
    val (numC, denTf, denC, denDl) =
      bm25GateConsts(n, sTot, queries, maxScoreFp, maxDl)
    val sc = stream.sparkSession.sparkContext
    // eval order pinned ascending so the first strict max wins ties the
    // same way the literal form's struct(score, -eval) array_max does
    val bQ = sc.broadcast(queries.sortBy(_._1).map { case (e, ts) =>
      (e, ts.map(_._1).toArray, ts.map(_._2).toArray)
    }.toArray)
    val vocab = sc.broadcast(
      queries.iterator.flatMap(_._2.iterator.map(_._1)).toSet)
    val best = udf { (w: Seq[String]) =>
      val dl = w.size.toLong
      if (dl > maxDl)
        throw new IllegalStateException(
          s"bm25Gate: document exceeds maxDl=$maxDl tokens — its score " +
            s"would overflow the BIGINT-exact range; got dl=$dl")
      val tf = new java.util.HashMap[String, Long]()
      val voc = vocab.value
      w.foreach { t =>
        if (voc.contains(t)) tf.merge(t, 1L, (a, b) => a + b)
      }
      var bestScore = Long.MinValue
      var bestEval = 0L
      bQ.value.foreach { case (e, terms, idfs) =>
        var s = 0L
        var i = 0
        while (i < terms.length) {
          val c = tf.getOrDefault(terms(i), 0L)
          if (c > 0L)
            s += idfs(i) * ((numC * c) / (denTf * c + denC + denDl * dl))
          i += 1
        }
        if (s > bestScore) { bestScore = s; bestEval = e }
      }
      (bestScore, bestEval)
    }
    stream
      .withColumn("__w",
        coalesce(graft.functions.TextFunctions.words(col("text")),
          array().cast("array<string>")))
      .withColumn("__best", best(col("__w")))
      .withColumn("bm25_score_fp", col("__best").getField("_1"))
      .withColumn("bm25_best_eval", col("__best").getField("_2"))
      .drop("__w", "__best")
      .filter(col("bm25_score_fp") < maxScoreFp)
  }

  /** Ingest-time FLUENCY gate — the streaming face of
    * [[graft.operators.TextAnalysis.tx_perplexity]]'s tail cut, i.e. the
    * CCNet deployment shape (Wenzek et al. 2020): the LM is a
    * per-snapshot batch artifact ([[graft.operators.TextAnalysis
    * .perplexityLmArtifact]] — pruned bigram/unigram score maps + token
    * total + the batch quartile tail cut) shipped to the stream edge as a
    * VALUE; restart the query to pick up a re-counted LM (the
    * authorityGate contract). Per document the gate replays the EXACT
    * batch score algebra — seen bigrams look up their pre-divided
    * fixed-point score, unseen ones back off to
    * ⌊μ·c₁(w₂)/T⌋ with the SAME [[graft.operators.TextAnalysis
    * .perplexityBackoffMu]] — via ONE justified Scala UDF over two
    * BROADCAST maps: stateless, map-only, no state store, no stream-static
    * join. Broadcast, not `typedLit` plan literals, because the literal
    * form serializes up to 2×65536 map entries into the plan of EVERY
    * micro-batch task — a per-batch overhead and plan-size risk at the
    * production artifact size; a broadcast ships each executor the maps
    * ONCE for the life of the query. (A stream-static join would need
    * explode + re-aggregate — a stateful stream agg — so the UDF is the
    * stateless shape; its integer algebra is bit-identical to the batch
    * HOF: missing keys read 0 like `try_element_at`, and `Long./` equals
    * `div` on these non-negative operands.) Emits the stream with
    * the `sb_mean` audit column; documents scoring below the tail cut
    * drop, and docs with <2 tokens (unscoreable — the batch scorer's
    * min-length rule) drop too, the scoreGate "no trainable content"
    * default. With the FULL (unpruned) LM the keep set equals the batch
    * scorer's `bucket != 'tail'` exactly — the StreamingSpec parity pin;
    * pruning only perturbs scores of pruned-out grams (the standard
    * shipped-LM approximation, by construction ≤ maxEntries entries).
    */
  def perplexityGate(stream: DataFrame,
      lm: graft.operators.TextAnalysis.PerplexityLm): DataFrame = {
    require(lm.t > 0L,
      s"perplexityGate: reference token total t=${lm.t} must be positive " +
        "— pass perplexityLmArtifact's output for the current snapshot")
    val mu = graft.operators.TextAnalysis.perplexityBackoffMu
    val sc = stream.sparkSession.sparkContext
    val bSeen = sc.broadcast(lm.seen)
    val bC1 = sc.broadcast(lm.c1)
    val t = lm.t
    // the batch algebra per bigram g = "w1 w2":
    //   coalesce(seen(g), (mu * coalesce(c1(w2), 0)) div t)
    // w2 = the suffix after the first space — identical to the batch
    // side's element_at(split(g,' '),2) because shingle words are
    // whitespace-free by construction
    val sbSum = udf { (gs: Seq[String]) =>
      val seen = bSeen.value; val c1 = bC1.value
      var a = 0L
      gs.foreach { g =>
        a += (seen.get(g) match {
          case Some(sc1) => sc1
          case None =>
            val w2 = g.substring(g.indexOf(' ') + 1)
            (mu * c1.getOrElse(w2, 0L)) / t
        })
      }
      a
    }
    stream
      .filter(col("text").isNotNull && size(words(col("text"))) >= 2)
      .withColumn("gs", shingles(col("text"), 2))
      .withColumn("sb_sum", sbSum(col("gs")))
      .withColumn("sb_mean", expr("sb_sum div size(gs)"))
      .filter(col("sb_mean") >= lit(lm.tailCut))
      .drop("gs", "sb_sum")
  }

  /** Ingest-time DSIR gate — the streaming face of
    * [[graft.operators.Curation.samp_dsir]]'s log importance weight: keep
    * documents whose exact-integer λ (how much the doc's hashed-bigram
    * distribution resembles the TARGET slice vs the raw corpus, in 2⁻²⁰
    * log₂ units) clears `minLambda`. The weight table is a per-snapshot
    * batch artifact ([[graft.operators.Curation.dsirGateArtifact]])
    * shipped to the ingest tier as a value (the authorityGate /
    * perplexityGate contract; restart the query to pick up a retrain);
    * it arrives as a BROADCAST consumed by one justified Scala UDF (the
    * perplexityGate device — a 16^hexChars-entry map as a typedLit would
    * re-serialize into every micro-batch plan). `minLambda` has no
    * default: λ's scale is corpus-relative (most of a raw crawl scores
    * negative against a clean target), so the threshold is a deployment
    * decision exactly like langidGate's keep set — pass Long.MinValue to
    * audit λ without dropping.
    *
    * Stateless, map-only; null text drops (no trainable content — the
    * allow-gate convention). A bucket the training corpus never produced
    * scores 0 from the map's getOrElse — the add-1-smoothed value for
    * unseen features (lg 1 − lg 1), not a fallback; the batch operator
    * can never hit that path, the stream edge can. Batch parity is
    * spec'd λ-for-λ against samp_dsir over the full corpus.
    */
  def dsirGate(stream: DataFrame,
      weights: graft.operators.Curation.DsirWeights,
      minLambda: Long): DataFrame = {
    require(weights.wt.nonEmpty,
      "dsirGate: empty weight table — pass dsirGateArtifact's output for " +
        "the current snapshot")
    val sc = stream.sparkSession.sparkContext
    val bWt = sc.broadcast(weights.wt)
    val constFp = weights.constFp
    // the UDF is lookup-only (the perplexityGate cost shape): buckets are
    // computed IN-PLAN by the SAME codegen'd substring(md5(gram)) the
    // batch operator uses — bucket parity by shared expression, and no
    // per-gram JVM digest/hex allocation in the hot ingest path
    val lam = udf { (bs: Seq[String]) =>
      val wt = bWt.value
      var a = 0L
      bs.foreach { b => a += wt.getOrElse(b, 0L) }
      a + bs.size.toLong * constFp
    }
    stream.filter(col("text").isNotNull)
      .withColumn("lambda_fp", lam(transform(shingles(col("text"), 2),
        g => substring(md5(g), 1, weights.hexChars))))
      .filter(col("lambda_fp") >= minLambda)
  }

  /** The full C4-order ingest chain as ONE composition — the deployment
    * shape every per-gate scaladoc has been describing: boilerplate
    * extraction, then the provenance screens (URL blocklist, domain
    * authority), then the content screens (language, learned quality
    * score, LM fluency). One shared definition so the end-to-end spec
    * verifies the SAME chain the per-gate parity specs certify — a
    * hand-assembled copy in each caller could silently reorder or drop a
    * stage.
    *
    * The stream must carry `doc_id`, `text`, and `url` columns (a real
    * crawl stream has all three; the synthetic corpus derives `url` via
    * [[graft.operators.TextAnalysis.urlPlant]] in the corpus ADAPTER, not
    * here — the chain itself is deployment-shaped). All value arguments
    * — the five classic gate artifacts and the three OPTIONAL decon/
    * importance screens (`deconUrls`, `dsir`, `bm25`, defaults off) —
    * are per-snapshot BATCH artifacts shipped to the ingest tier (the
    * authorityGate / perplexityGate contract; restart the query to pick
    * up a new snapshot).
    *
    * Scale shape: every stage is stateless and map-only (regex/HOF column
    * ops plus broadcast-value probes) — the chain holds ZERO streaming
    * state, needs no watermark, and its per-core cost is the sum of the
    * stage folds (dominated by the langid chargram fold; see the measured
    * §8.5 rows). Batch and stream compositions are the same function, so
    * the funnel census can be priced in batch and trusted at the edge.
    *
    * Stage boundaries are `observe()` nodes (`c4_extract` … `c4_pplx`,
    * each counting admitted rows — the per-stage funnel census surfaces
    * in every `StreamingQueryProgress` for free). The barrier is
    * LOAD-BEARING, not just telemetry: `PushPredicateThroughNonJoin`
    * substitutes projection aliases into pushed filter conditions
    * unconditionally, so a naively composed chain drags each stage's
    * fold — WITH the whole upstream extraction tree substituted in —
    * down to the scan and re-evaluates it per filter per row (measured
    * 29× on the full chain: ~200 s vs ~7 s for sf0.1's 5 k docs;
    * measured per prefix in round 19). Catalyst cannot push a predicate or
    * collapse a projection across CollectMetrics (either would corrupt
    * the observed counts), so each stage's derived columns are computed
    * exactly once per row and downstream filters reference attributes,
    * never re-inlined trees.
    */
  /** [[bm25Gate]]'s value arguments bundled for [[c4Chain]] — exactly
    * [[graft.operators.Curation.bm25GateArtifact]]'s tuple plus the
    * screen threshold, so the chain takes one artifact value per screen.
    *
    * `broadcast` selects the gate SPELLING (same algebra, bit-equal
    * output — parity spec'd): None (default) auto-selects by query-table
    * size ([[bm25BroadcastMinQueries]] — the typedLit literal fold is
    * right for a small benchmark release but its per-row cost grows with
    * every query struct re-walked per document, while the broadcast/UDF
    * form ships the table once and folds only the per-doc tf map);
    * Some(x) pins the form for deployments that know their table.
    */
  final case class Bm25Screen(n: Long, sTot: Long,
      queries: Seq[(Long, Seq[(String, Long)])], maxScoreFp: Long,
      maxDl: Long = 1L << 20, broadcast: Option[Boolean] = None) {
    def useBroadcast: Boolean =
      broadcast.getOrElse(queries.size >= bm25BroadcastMinQueries)
  }

  /** Auto-selection crossover for [[Bm25Screen.broadcast]]=None —
    * measured on the screened chain at 100× (SURVEY §8.5, 500 k
    * docs, 250-query sf0.1 table, warm min): literal fold 347.9 µs/row
    * vs broadcast 80.4 µs/row against the unscreened chain's 67.0 —
    * i.e. the literal form pays ~1.12 µs/row PER QUERY STRUCT (the
    * whole-table fold re-walks every struct per document) while the
    * broadcast/UDF form pays a ~13 µs/row flat serialization edge and
    * folds only the per-doc tf map over the union vocabulary. Equating
    * the two: crossover ≈ 13/1.12 ≈ 12–16 queries; 16 is the measured
    * knee — under it the codegen'd literal fold is at worst within
    * noise of the UDF, over it the linear-in-queries term dominates
    * (4.3× at 250 queries).
    */
  val bm25BroadcastMinQueries: Int = 16

  /** [[dsirGate]]'s value arguments bundled for [[c4Chain]]. */
  final case class DsirScreen(weights: graft.operators.Curation.DsirWeights,
      minLambda: Long)

  /** Survivor-quartile screen artifacts for [[c4Chain]]'s optional decon
    * stages — the ONE derivation the chain-with-screens parity spec
    * uses (a hand-copied recipe drifted on maxDl within a day of
    * existing): eval URLs from a
    * benchmark-release-sized mod-50 doc_id slice (the batch screen's
    * evalMod-3 default covers ALL 140 normalized plant urls —
    * gcd(3, 140) = 1 walks every residue — and would annihilate the
    * chain instead of screening it), the DSIR λ cut at the chain-off
    * SURVIVORS' 25th percentile, the BM25 score cut at their 75th —
    * thresholds that provably engage without emptying the funnel; a
    * deployment pins its own. `maxDl` defaults to 2¹⁴: the gate's 2²⁰
    * default fails the BIGINT-exact guard once S reaches sf0.1 scale,
    * and the synthetic docs are tens of tokens.
    *
    * `survivors` = the classic 6-stage chain's kept doc_ids on the
    * artifact corpus (the caller has them from its funnel census pass).
    *
    * Driver footprint: the quartile cuts are computed IN-PLAN (survivor
    * semi-join, then an exact lower order statistic realized as
    * sort→limit(r+1)→max — executor-side top-(r+1) over one long column,
    * only the final scalar crossing to the driver; bit-identical to a
    * driver-side `sorted.apply(⌊(n−1)q⌋)`, spec-pinned). The only
    * remaining collect is `evalUrls` — that Seq IS the shipped artifact
    * (the URL decon gate broadcasts a driver-side value by contract),
    * bounded by the eval-release slice, not the corpus.
    */
  def screenArtifacts(s: org.apache.spark.sql.SparkSession, dir: String,
      survivors: Set[Long],
      maxDl: Long = 1L << 14): (Seq[String], DsirScreen, Bm25Screen) = {
    import s.implicits._
    require(survivors.nonEmpty,
      "screenArtifacts: zero chain survivors — no distribution to derive " +
        "screen thresholds from (check the keep set / gate artifacts)")
    // survivors ride back to the executors as a broadcast semi-join frame
    // — the corpus-sized signal frames never reach the driver
    val survDf = broadcast(survivors.toSeq.toDF("doc_id"))
    def quart(df: DataFrame, c: String, q: Double): Long = {
      // persist the survivor-joined signal column: the rank and the
      // order statistic are two actions, and the signal plans upstream
      // (samp_dsir's λ fold, the 250-struct BM25 literal fold) are the
      // expensive part — cache one long column executor-side rather
      // than execute them twice
      val vals = df.join(survDf, Seq("doc_id"), "left_semi").select(col(c))
        .persist()
      try {
        val n = vals.count()
        require(n > 0,
          "screenArtifacts: no survivor carries the screen's signal")
        val r = ((n - 1) * q).toInt
        vals.orderBy(col(c)).limit(r + 1).agg(max(col(c))).first().getLong(0)
      } finally { vals.unpersist(); () }
    }
    val evalUrls = graft.sources.Tables.loadParallel(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(50L)) === 0)
      .select(graft.operators.TextAnalysis.normUrl(col("doc_id")).as("u"))
      .distinct().as[String].collect().toSeq
    val w = graft.operators.Curation.dsirGateArtifact(s, dir)
    val lamCut = quart(graft.operators.Curation
      .samp_dsir(s, dir, k = Int.MaxValue)
      .select("doc_id", "lambda_fp"), "lambda_fp", 0.25)
    val (n, sTot, queries) =
      graft.operators.Curation.bm25GateArtifact(s, dir)
    val scoreCut = math.max(1L, quart(bm25Gate(
        graft.sources.Tables.loadParallel(s, dir, "documents")
          .select("doc_id", "text"),
        n, sTot, queries, maxScoreFp = Long.MaxValue, maxDl = maxDl)
      .select("doc_id", "bm25_score_fp"), "bm25_score_fp", 0.75))
    (evalUrls, DsirScreen(w, lamCut),
      Bm25Screen(n, sTot, queries, maxScoreFp = scoreCut, maxDl = maxDl))
  }

  def c4Chain(stream: DataFrame,
      authorized: Seq[String],
      langidWeights: Map[String, Seq[Long]],
      keepLangs: Set[String],
      scoreWeights: Seq[Long],
      lm: graft.operators.TextAnalysis.PerplexityLm,
      deconUrls: Seq[String] = Seq.empty,
      dsir: Option[DsirScreen] = None,
      bm25: Option[Bm25Screen] = None): DataFrame = {
    def bar(df: DataFrame, stage: String): DataFrame =
      df.observe(s"c4_$stage", count(lit(1)).as("rows"))
    // decon/importance screens are OPTIONAL stages in the same barriered
    // composition (defaults off keep the classic 6-stage chain): the URL
    // decon screen extends the provenance block (c4_decon_url), the DSIR
    // importance gate follows the content screens (c4_dsir), and the
    // BM25 retrieval decon runs LAST (c4_decon_bm25 — its per-document
    // cost is the chain's largest, so it sees the fewest documents; when
    // enabled the chain's output carries its bm25_score_fp/bm25_best_eval
    // audit columns). Every stage sits behind its own observe() barrier —
    // the same PushPredicateThroughNonJoin containment the six classic
    // stages need (see above), now covering the screen folds too.
    val provenance =
      bar(authorityGate(
        bar(urlGate(
          bar(extractGate(stream), "extract")),
          "url"),
        authorized), "authority")
    val screened =
      if (deconUrls.isEmpty) provenance
      else bar(deconUrlGate(provenance, deconUrls), "decon_url")
    val content =
      bar(scoreGate(
        bar(langidGate(screened, langidWeights, keepLangs), "langid"),
        scoreWeights), "score")
    val weighted = dsir.fold(content)(d =>
      bar(dsirGate(content, d.weights, d.minLambda), "dsir"))
    val fluent = bar(perplexityGate(weighted, lm), "pplx")
    bm25.fold(fluent)(b =>
      bar(
        if (b.useBroadcast)
          bm25GateBroadcast(fluent, b.n, b.sTot, b.queries, b.maxScoreFp,
            b.maxDl)
        else
          bm25Gate(fluent, b.n, b.sTot, b.queries, b.maxScoreFp, b.maxDl),
        "decon_bm25"))
  }

  /** Ingest-edge DISTRIBUTION monitor — the streaming face of
    * [[graft.operators.Curation.profile_drift]]'s census side: running
    * (feature, bucket) document counts over the ingest stream, emitted
    * per batch in update mode — the frame a data-quality alert compares
    * against the last released snapshot's census (the batch operator's
    * n1/share1 columns) to catch a crawl gone off-distribution BEFORE it
    * lands. The bucketing is the SAME shared
    * [[graft.operators.Curation.driftFeatures]] definition, so edge
    * counts and the batch shift report can never bucket differently
    * (spec pins count parity on identical input). State is one long per
    * (feature, bucket) — bounded by bucket cardinality (languages +
    * length centuries), independent of stream volume.
    */
  def driftStream(stream: DataFrame): DataFrame =
    graft.operators.Curation.driftFeatures(stream)
      .groupBy("feature", "bucket")
      .agg(count(lit(1)).as("n"))
}
