package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Embedding clustering — deterministic Lloyd (k-means) over the
  * `embeddings` table, the corpus-organization step a training pipeline runs
  * for mixture balancing, semantic dedup regions, and IVF coarse quantizers
  * ([[Similarity.ann_ivf]] takes exactly this kind of centroid set).
  *
  * Everything is content-deterministic: init is the k lowest `vec_id`
  * vectors (no RNG), assignment distance is a left-to-right double fold with
  * a defined operation order (the [[graft.functions.TextFunctions.cosine]]
  * trick), ties break to the lowest cluster index, and centroid updates
  * accumulate in fixed-point integers (`floor(x·2^20)` — power-of-two
  * scaling is exact IEEE), so the result is bit-identical under any
  * partitioning, task order, or re-run — on Spark or any other engine.
  *
  * Scale shape (Lloyd is inherently iterative; this is the MLlib shape, not
  * a driver loop over data): per iteration, ONE map pass assigns against a
  * plan-literal centroid table (k·dim doubles — broadcast-sized at any k
  * that makes sense) and ONE map-side-combined aggregate reduces to
  * k·dim partial rows per partition; only the k·dim centroid table ever
  * reaches the driver.
  */
object Clustering {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.loadParallel(s, dir, "embeddings")

  /** Argmin over the literal centroid set as ONE native expression
    * ([[graft.functions.VecNearest]]): struct(d, c) of the nearest
    * centroid, ties to the lowest index — value-identical to the previous
    * `least` of (sqdist, index) structs (same left-to-right double
    * accumulation the DuckDB twins mirror), but a single small codegen'd
    * loop instead of k inlined distance folds: the composed form either
    * evaluated interpreted (HOF lambdas) or, once made codegen-able, grew
    * the fused consume method past HotSpot's JIT threshold — both
    * dominated k-means/PQ training scans at 2M vectors.
    */
  private[graft] def assignTo(centroids: Seq[Seq[Double]]): Column =
    graft.functions.VecNearest.nearest(col("embedding"), centroids)

  /** Fixed-point per-row component sum: Σ_dims floor(x·2^20) — one exact
    * integer per vector, an order-independent content probe.
    */
  private val qrow: Column =
    aggregate(col("embedding"), lit(0L),
      (acc, x) => acc + floor(x.cast("double") * (1L << 20)).cast("long"))

  /** True where the embedding is non-NULL and exactly `dims` wide — the
    * width the flat per-dimension centroid sums of [[kmeansRounds]] and
    * [[pqTrain]] assume. Rows failing it are assigned no centroid, so a
    * round's own aggregate counts them in its NULL group.
    */
  private def fixedWidth(dims: Int): Column = coalesce(size(col("embedding")) === dims, lit(false))

  /** A NULL group in a round's aggregate: `n` rows broke [[fixedWidth]]. */
  private def refuseRagged(op: String, dims: Int, n: Long): Nothing =
    throw new IllegalArgumentException(
      s"$op: $n embedding(s) are NULL or not $dims wide; every embedding must have the expected width $dims")

  /** The init vectors are embeddings too ([[initCentroids]] reads a NULL as empty). */
  private def refuseRaggedSeeds(op: String, dims: Int, seeds: Seq[Seq[Double]]): Unit = {
    val n = seeds.count(_.size != dims)
    if (n > 0) refuseRagged(op, dims, n)
  }

  /** The k lowest-vec_id vectors as driver-side doubles — deterministic,
    * RNG-free init (k·dim values, independent of corpus size).
    */
  private[graft] def initCentroids(e: DataFrame, k: Int): Seq[Seq[Double]] =
    e.orderBy("vec_id").limit(k).select("embedding").collect()
      .map(r => Option(r.getSeq[Float](0)).fold(Seq.empty[Double])(_.map(_.toDouble).toSeq)).toSeq

  /** One Lloyd assignment step from the deterministic init, summarized per
    * cluster — the DuckDB-oracle anchor for the iterative twin: exact double
    * distances, exact tie-breaks, exact fixed-point content sums.
    */
  def embed_kmeans_assign(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val e = emb(s, dir)
    e.select(col("vec_id"), assignTo(initCentroids(e, k)).getField("c").as("cluster"), qrow.as("q"))
      .groupBy("cluster")
      .agg(
        count(lit(1)).as("n"),
        min(col("vec_id")).as("first_vec"),
        sum(col("q")).as("qsum"))
      .orderBy("cluster")
  }

  /** Full deterministic k-means: `iters` Lloyd rounds. Returns per-cluster
    * size, fixed-point content sum, and fixed-point inertia (Σ floor(d·2^20)
    * over members — integer, so order-independent). Empty clusters keep
    * their previous centroid.
    */
  def embed_kmeans(s: SparkSession, dir: String, k: Int = 10, iters: Int = 5): DataFrame = {
    require(iters >= 1, s"embed_kmeans: iters=$iters — at least one Lloyd round")
    kmeansRounds(emb(s, dir), k, iters).last._2
  }

  /** Product quantization (Jégou et al., TPAMI 2011): split the embedding
    * into `m` subspaces, k-means each (the same deterministic Lloyd as
    * [[embed_kmeans]] — RNG-free init, fixed-point centroid updates), and
    * encode every vector as `m` small codes. The compression story at
    * 100 TB: a 64-dim float vector is 256 bytes; its PQ code is `m` bytes —
    * 32× less to store, shuffle, and scan, with asymmetric-distance (ADC)
    * search reading codes only. All m subspaces train in the SAME pass:
    * one aggregate per Lloyd round total (not per subspace), collecting
    * only the m·k·(dims/m) fixed-point centroid table per round.
    *
    * Output per vector: the code word, a digest of it, and the fixed-point
    * quantization error — deterministic under any partitioning, so the
    * whole frame is bit-reproducible (PipelineSpec pins determinism,
    * self-match, and error-vs-codebook-size invariants; the DuckDB twin
    * unrolls the training rounds and hash-matches the full frame —
    * [[graft.OracleSql]]'s pqCoreCtes).
    */
  def embed_pq(s: SparkSession, dir: String, m: Int = 8, k: Int = 16,
      iters: Int = 2): DataFrame = {
    val e = emb(s, dir)
    val dims = e.select(size(col("embedding"))).first().getInt(0)
    require(dims % m == 0, s"dims=$dims not divisible by m=$m")
    val sub = dims / m
    val codebooks = pqTrain(e, m, k, iters, sub)
    encodePq(e, codebooks, sub)
      .select(col("vec_id"),
        md5(concat_ws(",", col("codes"))).as("code_digest"),
        col("err_q"))
      .orderBy("vec_id")
  }

  /** Train per-subspace codebooks; returns codebooks(s)(j) = centroid j of
    * subspace s. Init: the k lowest-vec_id vectors' subvectors (RNG-free).
    */
  private[graft] def pqTrain(e: DataFrame, m: Int, k: Int, iters: Int,
      sub: Int): Seq[Seq[Seq[Double]]] = {
    val seed = initCentroids(e, k) // the ONE deterministic-init definition
    var books: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => seed.map(v => v.slice(s * sub, (s + 1) * sub).toSeq))
    val fits = fixedWidth(m * sub)
    refuseRaggedSeeds("pqTrain", m * sub, seed)
    for (_ <- 1 to iters) {
      // one pass assigns EVERY subspace: array of (s, code, subvec) structs
      val parts = (0 until m).map { s =>
        val sv = slice(col("embedding"), s * sub + 1, sub)
        val code = when(fits, assignSub(sv, books(s)).getField("c"))
        struct(lit(s).as("s"), code.as("code"), sv.as("sv"))
      }
      // per-(subspace, code) fixed-point sums, one flat codegen'd sum per
      // sub-dimension — the kmeansRounds centroid-update spelling (see the
      // comment there): identical integer algebra, sub× fewer aggregated
      // rows than the posexplode form, no second Generate in the round plan
      val sums = e
        .select(explode(array(parts: _*)).as("p"))
        .select(col("p.s").as("s"), col("p.code").as("code"),
          col("p.sv").as("sv"))
        .groupBy(col("s"), col("code"))
        .agg(count(lit(1)).as("n"),
          array((0 until sub).map(p =>
            sum(floor(get(col("sv"), lit(p)).cast("double") * (1L << 20)))): _*)
            .as("qs"))
        .collect()
      sums.find(_.isNullAt(1)).foreach(r => refuseRagged("pqTrain", m * sub, r.getLong(2)))
      val byKey = sums.map(r =>
        (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getSeq[Long](3))).toMap
      books = books.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (prev, j) =>
          byKey.get((s, j)) match {
            case Some((n, qs)) =>
              (0 until sub).map(p => qs(p).toDouble / (n * (1L << 20)).toDouble)
            case None => prev // empty cell keeps its previous centroid
          }
        }
      }
    }
    books
  }

  /** Argmin over one subspace's codebook (same tie-break as [[assignTo]],
    * same single-expression rationale).
    */
  private[operators] def assignSub(sv: Column, book: Seq[Seq[Double]]): Column =
    graft.functions.VecNearest.nearest(sv, book)

  /** Encode vectors against trained codebooks: per-subspace code +
    * fixed-point total quantization error.
    */
  private[graft] def encodePq(e: DataFrame, books: Seq[Seq[Seq[Double]]],
      sub: Int): DataFrame = {
    val m = books.size
    val assigned = (0 until m).map { s =>
      assignSub(slice(col("embedding"), s * sub + 1, sub), books(s))
    }
    val codes = array(assigned.map(_.getField("c")): _*)
    val err = assigned.map(_.getField("d")).reduce(_ + _)
    e.select(col("vec_id"), codes.as("codes"),
      floor(err * (1L << 20)).cast("long").as("err_q"))
  }

  /** [[samp_kcenter]] defaults, shared with [[graft.OracleSql]]. */
  val kcenterK: Int = 8

  /** [[samp_kcenter_sharded]] defaults (per-shard picks and shard count),
    * shared with [[graft.OracleSql]].
    */
  val kcenterKPrime: Int = 4
  val kcenterShards: Int = 4

  /** Greedy k-CENTER coreset selection over the embedding table
    * (Gonzalez 1985's farthest-point traversal — the classic 2-approx of
    * the k-center objective; Sener & Savarese, ICLR 2018 apply exactly
    * this greedy as core-set DATA SELECTION): pick the lowest-vec_id
    * vector (the [[initCentroids]] RNG-free convention), then k−1 rounds
    * of "add the point FARTHEST from the selected set". Where the
    * sampling family picks by content distribution ([[graft.operators
    * .Curation.samp_dsir]]) or by score, this picks for geometric
    * COVERAGE — the diversity-selection operator that bounds, for any
    * 1-Lipschitz loss, the train/selected gap by the coverage radius.
    *
    * Emits one row per selection: (round, vec_id, radius_fp) where
    * radius_fp = ⌊2²⁰·d²⌋ of the selected point's squared euclidean
    * distance to the previously selected set — i.e. the coverage radius
    * BEFORE that round's point joins; the seed row's radius is NULL.
    * radius_fp is monotone non-increasing from round 2 (spec-pinned —
    * the greedy invariant).
    *
    * Determinism/oracle: distances are the SAME left-to-right double
    * fold as the Lloyd family ([[graft.functions.VecNearest]] over the
    * selected set as plan literals — one codegen'd loop, k·dims
    * literals); argmax ties break to the smaller vec_id via the struct
    * max (d, −vec_id); the DuckDB twin unrolls the k−1 rounds
    * programmatically (the kmeansCoreCtes device) and hash-matches the
    * full frame.
    *
    * Scale shape: k−1 passes, each ONE map scan against a ≤k·dims
    * plan-literal center table reduced by ONE max aggregate to a single
    * driver row (the Lloyd-round contract: k·dims driver traffic,
    * nothing corpus-sized moves). O(n·k²) distance work total at this
    * re-min-over-all-centers spelling — [[samp_kcenter_fast]] is the
    * O(n·k) running-min form, bit-identical output. MEASURED crossover
    * (SURVEY §8.5, warm): at 20 k vectors the running-min form
    * wins at every k (3.2→2.0 s at k=8, 22.2→10.2 s at k=64 — 20 k-row
    * checkpoints are ~free); at the 100× replica's 2 M vectors its
    * per-round n-row materialization costs real I/O and the break-even
    * moves to k ≈ 16 (k=8: 2.9 vs 5.2 s façade wins; k=16: 5.8 vs 6.0;
    * k=32: 17.9 vs 10.7; k=64: 41.4 vs 20.8). The decision is recompute
    * vs materialize: n·k²·dims distance evals against n·k rows of
    * checkpoint I/O — pick this spelling for small k, the running min
    * past k ≈ 2·(1 + rowIO/distEval). This spelling stays registered as
    * the oracle-simple reference form the twin unrolls.
    */
  def samp_kcenter(s: SparkSession, dir: String, k: Int = kcenterK): DataFrame =
    kcenterEmit(s, kcenterSelect(s, dir, k, "samp_kcenter")._2)

  /** The façade's selection loop itself — shared by [[samp_kcenter]] and
    * [[samp_kcenter_assign]] so the assignment audits EXACTLY the frame
    * the selection emits. Returns (scoreable vectors, selections in
    * round order).
    */
  private def kcenterSelect(s: SparkSession, dir: String, k: Int,
      op: String): (DataFrame, Vector[(Long, Seq[Double], Option[Long])]) = {
    val (e, seed) = kcenterSeed(s, dir, k, op, materialize = true)
    var selected = Vector((seed._1, seed._2, Option.empty[Long]))
    for (_ <- 2 to k) {
      val centers = selected.map(_._2).toSeq
      val d = graft.functions.VecNearest.nearest(col("embedding"), centers)
        .getField("d")
      selected :+= kcenterArgmax(e, d, selected.map(_._1))
    }
    (e, selected)
  }

  /** The ASSIGNMENT face of [[samp_kcenter]] (the embed_kmeans_assign
    * convention): re-run the greedy selection, then assign EVERY vector
    * to its nearest selected center in one map-only VecNearest pass —
    * (vec_id, center_id, center_round, d2_fp) with d2_fp = ⌊2²⁰·d²⌋.
    * This is the coverage AUDIT of a diversity selection: which center
    * serves each point and at what radius — the frame a curation run
    * inspects before trusting a coreset (and the per-point input to
    * coverage-weighted curriculum ordering). Ties break to the EARLIEST
    * selection round (VecNearest's lowest-index contract), which the
    * twin mirrors by taking min(struct(d, round)) rather than
    * min-by-center-id.
    *
    * Greedy theorem, spec-pinned: after k selections every point's d²
    * is at most round k's selection radius (the next farthest point
    * would have been round k+1's pick) — `max(d2_fp) ≤ radius_fp(k)`.
    *
    * Scale shape: the selection's k−1 aggregate passes, then ONE
    * map-only scan against the k·dims plan-literal center table (no
    * join, no shuffle beyond the presentation sort).
    */
  def samp_kcenter_assign(s: SparkSession, dir: String,
      k: Int = kcenterK): DataFrame = {
    val (e, selected) = kcenterSelect(s, dir, k, "samp_kcenter_assign")
    val near = graft.functions.VecNearest.nearest(col("embedding"),
      selected.map(_._2).toSeq)
    val ids = selected.map(_._1)
    e.select(col("vec_id"),
        near.getField("c").as("ci"), near.getField("d").as("d"))
      .select(col("vec_id"),
        element_at(typedLit(ids), col("ci") + 1).as("center_id"),
        (col("ci") + 1).cast("bigint").as("center_round"),
        floor(col("d") * (1L << 20)).cast("long").as("d2_fp"))
      .orderBy("vec_id")
  }

  /** COVERAGE-WEIGHTED curriculum — the consumer [[samp_kcenter_assign]]'s
    * scaladoc names, built: training order phased by how far each vector
    * sits from its nearest selected center (the coverage signal d2_fp),
    * the diversity-first analogue of [[Curation.samp_curriculum]]'s
    * quality phases. Phase = exact quartile of d2_fp with phase 0 the
    * FARTHEST quartile (hard/diverse-first; consumers read phases in
    * either direction, the samp_curriculum contract) — cut points are
    * exact percentiles bit-matched by DuckDB's quantile_cont (the q30
    * precedent), collected as THREE doubles (the bounded-driver rule).
    * Within a phase, the reproducible content-addressed shard/position
    * order of [[Curation.samp_shuffle]] keyed on vec_id — per-(phase,
    * shard) windows, never a global sort. Output (vec_id, phase, shard,
    * pos) is plug-compatible with samp_curriculum's frame BY SHARED CODE
    * (both run [[Curation.curriculumFrame]]; spec-pinned too), so one
    * trainer reads either schedule.
    *
    * Scale shape: the selection's k−1 aggregate passes + ONE map-only
    * assign scan (the [[samp_kcenter_assign]] plan), one tiny percentile
    * aggregate, then parallel per-(phase, shard) windows.
    */
  def samp_curriculum_coverage(s: SparkSession, dir: String,
      k: Int = kcenterK, nShards: Int = 8): DataFrame =
    Curation.curriculumFrame(coverageSignal(s, dir, k), "vec_id", nShards)

  /** [[samp_curriculum_coverage]]'s (vec_id, signal) scored frame — ONE
    * definition shared with [[samp_curriculum_mixed]], so a vector's
    * coverage quartile cannot differ between the standalone and
    * composed faces.
    */
  private def coverageSignal(s: SparkSession, dir: String,
      k: Int): DataFrame =
    samp_kcenter_assign(s, dir, k)
      .select(col("vec_id"), col("d2_fp").as("signal"))

  /** The COMPOSED coverage × quality schedule — the curriculum family's
    * closing member (the way samp_mixture_trained closed DoReMi's): a
    * trainer that wants "diverse first, best-written first within equal
    * diversity" reads ONE phase column instead of reconciling two
    * schedules by hand. phase = coverage_quartile · 4 + quality_quartile
    * (lexicographic, coverage-major — phase 0 is the farthest-from-
    * coverage AND top-quality cell, phase 15 the redundant tail), over
    * the documents that carry BOTH signals (non-null embedding ∧
    * non-null text; the corpus embeds row i of documents as vec i, the
    * dd_semdedup/decon_embed convention).
    *
    * Plug-compatible with both parents BY SHARED CODE, twice over: each
    * sub-phase runs the parent's OWN scored frame ([[coverageSignal]]
    * resp. [[graft.operators.Curation.curriculumQualitySignal]] — the
    * single definitions the standalone operators run) through the same
    * [[graft.operators.Curation.curriculumPhases]] cut device, so a
    * document's coverage/quality quartile here IS its quartile there
    * (spec-pinned by decomposition); and the within-phase order is the
    * same [[graft.operators.Curation.curriculumWindows]] device every
    * curriculum face runs. Scale shape: the two parents' plans (each one
    * percentile aggregate over an existing scan) + one id join + the
    * per-(phase, shard) windows — nothing new shuffles the corpus.
    */
  def samp_curriculum_mixed(s: SparkSession, dir: String,
      k: Int = kcenterK, nShards: Int = 8): DataFrame = {
    // fail fast before either parent's aggregate pass runs
    require(nShards >= 1, s"curriculum: nShards=$nShards must be positive")
    val cov = Curation.curriculumPhases(coverageSignal(s, dir, k), "vec_id")
      .withColumnRenamed("phase", "cov_phase")
    val qual = Curation.curriculumPhases(
        Curation.curriculumQualitySignal(s, dir), "doc_id")
      .select(col("doc_id").as("vec_id"), col("phase").as("qual_phase"))
    Curation.curriculumWindows(
      cov.join(qual, Seq("vec_id"))
        .select(col("vec_id"),
          (col("cov_phase") * 4L + col("qual_phase")).as("phase")),
      "vec_id", nShards)
  }

  /** Shared k-center prologue: scoreable vectors, both param guards, and
    * the lowest-vec_id seed decoded once — ONE copy so the two spellings
    * (whose outputs share a single DuckDB twin) cannot drift apart on the
    * contract edges.
    */
  private def kcenterSeed(s: SparkSession, dir: String, k: Int,
      op: String, materialize: Boolean = false): (DataFrame, (Long, Seq[Double])) = {
    import graft.Checkpoints.DatasetCheckpointOps
    require(k >= 2, s"$op: k=$k — need at least the seed and one round")
    // `materialize`: ONE eager barrier on the scoreable (vec_id, embedding)
    // frame before the k−1 greedy passes — the O(n·k²) spellings
    // (samp_kcenter / samp_kcenter_assign and the curriculum faces over
    // them) re-run the parquet scan + the loadParallel repartition
    // exchange in EVERY argmax round, k+2 consumers of one frame (the
    // minhashRepPairs multi-consumer-barrier policy; A/B-measured +0.1 to
    // +0.4 s per query at sf0.1). samp_kcenter_fast keeps the lazy frame:
    // it folds `e` into its own per-round state barriers after one pass,
    // so a seed-time materialization is a pure extra write (A/B-measured
    // a 0.2 s loss there). Scale trade as priced in samp_kcenter_fast's
    // crossover table: one n-row write against k−1 saved source scans.
    val e0 = emb(s, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val e = if (materialize) e0.graftCheckpoint(parallel = true) else e0
    val n = e.count()
    require(n >= k,
      s"$op: k=$k exceeds the $n scoreable vectors — every point " +
        "is selected by round n and further rounds have no argmax")
    val seed = e.orderBy("vec_id").limit(1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toSeq)).head
    (e, seed)
  }

  /** Shared k-center argmax round: farthest unselected point by the given
    * distance column, ties to the smaller vec_id via the (d, −vec_id)
    * struct max, radius quantized ⌊2²⁰·d²⌋ AFTER selection.
    */
  private def kcenterArgmax(frame: DataFrame,
      d: org.apache.spark.sql.Column,
      selectedIds: Seq[Long]): (Long, Seq[Double], Option[Long]) = {
    val top = frame.filter(!col("vec_id").isInCollection(selectedIds))
      .agg(max(struct(d.as("d"), (-col("vec_id")).as("negid"),
        col("embedding").as("emb"))).as("m"))
      .select(col("m.d"), col("m.negid"), col("m.emb"))
      .first()
    (-top.getLong(1), top.getSeq[Float](2).map(_.toDouble).toSeq,
      Some(math.floor(top.getDouble(0) * (1L << 20)).toLong))
  }

  /** Shared k-center emission: (round, vec_id, radius_fp) in selection
    * order — the frame shape the twin pins.
    */
  private def kcenterEmit(s: SparkSession,
      selected: Vector[(Long, Seq[Double], Option[Long])]): DataFrame = {
    import s.implicits._
    selected.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1L, id, r) }
      .toDF("round", "vec_id", "radius_fp")
  }

  /** [[samp_kcenter]] in the PRODUCTION spelling its scaladoc documents:
    * a persisted per-point RUNNING MIN instead of re-minimizing over the
    * whole selected set every round. Round r's distance work is one
    * `least(dmin, d²-to-the-new-center)` column over the state frame —
    * O(n·k) total distance evaluations versus the façade's O(n·k²) — at
    * the price of one lineage-cut materialization per round (n rows ×
    * (vec_id, embedding, dmin)). MEASURED (SURVEY §8.5): faster
    * at every k on the 20 k-vector corpus (2.2× by k=64); at 2 M vectors
    * the checkpoint I/O is real and the break-even is k ≈ 16 (2× ahead
    * by k=64) — see [[samp_kcenter]]'s crossover table.
    *
    * BIT-IDENTICAL to [[samp_kcenter]] by construction, not by accident:
    * each per-center squared distance is the same left-to-right double
    * fold ([[graft.functions.VecNearest]] with a 1-entry codebook), and
    * `least` over exact doubles reproduces the multi-center
    * VecNearest min exactly (no re-association of the per-center sums —
    * only the outer min is re-bracketed, which is exact for doubles).
    * Argmax tie-break and radius quantization are byte-for-byte the
    * façade's. Spec-pinned frame-equal; shares [[samp_kcenter]]'s
    * DuckDB twin verbatim (same output ⇒ same oracle).
    */
  def samp_kcenter_fast(s: SparkSession, dir: String, k: Int = kcenterK): DataFrame = {
    import graft.Checkpoints.DatasetCheckpointOps
    val (e, seed) = kcenterSeed(s, dir, k, "samp_kcenter_fast")
    var selected = Vector((seed._1, seed._2, Option.empty[Long]))
    def dTo(center: Seq[Double]) =
      graft.functions.VecNearest.nearest(col("embedding"), Seq(center))
        .getField("d")
    var state = e.withColumn("dmin", dTo(seed._2)).graftCheckpoint()
    for (round <- 2 to k) {
      val sel = kcenterArgmax(state, col("dmin"), selected.map(_._1))
      selected :+= sel
      if (round < k) // the last selection needs no further distance state
        state = state.withColumn("dmin", least(col("dmin"), dTo(sel._2)))
          .graftCheckpoint()
    }
    kcenterEmit(s, selected)
  }

  /** k-center via COMPOSABLE CORESETS — the spelling that removes the
    * k-passes-over-the-corpus cost both exact forms pay (the MPC/
    * mergeable-summaries pattern: per-shard Gonzalez, then greedy over
    * the union of shard picks — Indyk et al. 2014's composable coreset
    * for diversity/coverage maximization): shard the corpus
    * (content-free `pmod(vec_id, shards)`), run `kPrime−1` greedy
    * farthest-point rounds PER SHARD simultaneously (one aggregate per
    * round — the per-shard argmax is the same (dmin, −vec_id) struct max
    * grouped by shard, so each round is one map scan + a `shards`-group
    * aggregate, `shards`·dims driver traffic), then run the exact greedy
    * over the ≤ shards·kPrime coreset IN THE DRIVER (tiny, deterministic,
    * the same distance fold and tie-breaks as the distributed rounds).
    *
    * What it trades: the selection is a CONSTANT-FACTOR approximation of
    * the global greedy (each shard's picks cover its own slice, so the
    * union covers the corpus within a constant of optimal — the
    * composable-coreset guarantee), not the exact Gonzalez order; in
    * exchange the corpus is scanned kPrime−1 times instead of k−1 with
    * kPrime ≪ k, and the k-dependent work happens on shards·kPrime
    * points in driver memory. At production k (10³ selections over 10⁹
    * vectors) this is the only shape that holds: neither exact spelling
    * survives k corpus passes.
    *
    * Determinism/oracle: sharding is id arithmetic, per-shard seeds are
    * the shard-minimum vec_ids, every argmax breaks ties to the smaller
    * vec_id, the running min is exact-double `least`, and the driver
    * greedy replays the identical algebra — so the DuckDB twin unrolls
    * both phases (per-shard rounds via a row_number-per-shard window,
    * the final greedy via the samp_kcenter device over the coreset CTE)
    * and hash-matches the full frame. Output shape is the family's
    * (round, vec_id, radius_fp); radius_fp here is the coverage radius
    * WITHIN the coreset (the quantity the driver greedy minimizes), with
    * the same ⌊2²⁰·d²⌋ quantization and NULL seed row.
    */
  def samp_kcenter_sharded(s: SparkSession, dir: String, k: Int = kcenterK,
      kPrime: Int = kcenterKPrime, shards: Int = kcenterShards): DataFrame = {
    import graft.Checkpoints.DatasetCheckpointOps
    require(k >= 2, s"samp_kcenter_sharded: k=$k — need at least the seed " +
      "and one round")
    require(kPrime >= 1, s"samp_kcenter_sharded: kPrime=$kPrime must be >= 1")
    require(shards >= 1, s"samp_kcenter_sharded: shards=$shards must be >= 1")
    require(shards.toLong * kPrime >= k,
      s"samp_kcenter_sharded: coreset capacity shards*kPrime = " +
        s"${shards.toLong * kPrime} cannot seed k=$k final selections")
    val e = emb(s, dir).filter(col("embedding").isNotNull)
      .select(col("vec_id"), pmod(col("vec_id"), lit(shards.toLong)).as("shard"),
        col("embedding"))
    def dTo(center: Seq[Double]) =
      graft.functions.VecNearest.nearest(col("embedding"), Seq(center))
        .getField("d")
    // phase 1 seeds: each shard's minimum vec_id WITH its embedding in
    // ONE map scan + one shards-group aggregate (vec_id leads the struct
    // and is unique, so the struct min never compares embeddings) — a
    // corpus self-join here would double the scan count the scaladoc
    // prices
    val seeds = e.groupBy("shard")
      .agg(min(struct(col("vec_id"), col("embedding"))).as("m"))
      .select(col("shard"), col("m.vec_id"), col("m.embedding")).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(_.toDouble).toSeq))
      .sortBy(_._1).toVector
    require(seeds.nonEmpty, "samp_kcenter_sharded: no scoreable vectors")
    var coreset = seeds
    // kPrime=1 is seeds-only: the round loop below never reads `state`,
    // so building (and eagerly checkpointing) the corpus-sized distance
    // frame would be a wasted full scan — the twin's explicit kPrime=1
    // branch and samp_kcenter_fast's `if (round < k)` skip, applied here
    if (kPrime >= 2) {
      var state = e
        .withColumn("dmin", coalesce(
          seeds.map { case (sh, _, c) => when(col("shard") === sh, dTo(c)) }: _*))
        .filter(!col("vec_id").isInCollection(seeds.map(_._2)))
        .graftCheckpoint()
      for (r <- 2 to kPrime) {
        // one aggregate: every live shard's farthest point this round
        val picks = state.groupBy("shard")
          .agg(max(struct(col("dmin").as("d"), (-col("vec_id")).as("negid"),
            col("embedding").as("emb"))).as("m"))
          .select(col("shard"), col("m.negid"), col("m.emb"))
          .collect()
          .map(row => (row.getLong(0), -row.getLong(1),
            row.getSeq[Float](2).map(_.toDouble).toSeq))
          .sortBy(_._1).toVector
        coreset ++= picks
        if (r < kPrime && picks.nonEmpty)
          state = state.filter(!col("vec_id").isInCollection(picks.map(_._2)))
            .withColumn("dmin", coalesce((picks.map { case (sh, _, c) =>
              when(col("shard") === sh, least(col("dmin"), dTo(c)))
            } :+ col("dmin")): _*))
            .graftCheckpoint()
      }
    }
    require(coreset.size >= k,
      s"samp_kcenter_sharded: the corpus yielded only ${coreset.size} " +
        s"coreset points (< k=$k) — shards ran out of distinct vectors; " +
        "lower k or raise kPrime/shards")
    // phase 2: exact greedy over the coreset, driver-side — the same
    // left-to-right double fold, struct-max tie-break, and quantization
    // as the distributed rounds (and as the DuckDB twin's final phase)
    val pts = coreset.map { case (_, id, c) => (id, c) }.sortBy(_._1)
    def d2(a: Seq[Double], b: Seq[Double]): Double = {
      // loud on mismatch (the VecNearest contract) — a prefix distance
      // would silently select wrong centers
      require(a.length == b.length,
        s"samp_kcenter_sharded: dims mismatch ${a.length} vs ${b.length}")
      var acc = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    var selected = Vector((pts.head._1, pts.head._2, Option.empty[Long]))
    for (_ <- 2 to k) {
      val best = pts.filterNot(p => selected.exists(_._1 == p._1))
        .map { case (id, c) => (selected.map(x => d2(c, x._2)).min, id, c) }
        .maxBy { case (mind, id, _) => (mind, -id) }
      selected :+= ((best._2, best._3,
        Some(math.floor(best._1 * (1L << 20)).toLong)))
    }
    kcenterEmit(s, selected)
  }

  /** The shared ±1 sign matrix behind [[embed_rp]] — deterministic from
    * md5("graft-rp|i|j") (first digest byte's parity), so the operator, the
    * DuckDB twin (which inlines these as list literals), and any re-run
    * derive the IDENTICAL matrix with no RNG seed to coordinate. Row i is
    * output dimension i's signs over the input dimensions.
    */
  private[graft] def rpSigns(k: Int, dims: Int): Seq[Seq[Long]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until k).map { i =>
      (0 until dims).map { j =>
        val h = md.digest(s"graft-rp|$i|$j".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1L else -1L
      }
    }
  }

  /** Signed RANDOM PROJECTION (Achlioptas 2003: ±1 entries are a valid
    * JL-style projection) — the cheap dimensionality reducer a pipeline
    * runs before sketch-family similarity work when even int8 vectors are
    * too wide to shuffle: dims→k integer coordinates per vector. Projects
    * the [[TextAnalysis.embed_quantize]] int8 codes (the SAME
    * [[Similarity.int8Codes]] scheme — one quantization definition in the
    * repo), so every output coordinate is an exact 64-bit integer sum
    * (|code| ≤ 127, so k·dims·127 ≪ 2⁶³): no float accumulation order,
    * bit-identical on any engine and any partitioning — the property that
    * makes the twin a full hash oracle where float RP could never be.
    * The sign matrix is the plan-literal [[rpSigns]]; cosine structure
    * survives (spec-measured top-k recall vs exact float cosine).
    *
    * Scale shape: map-only — one scan, zero shuffles (the output sort is
    * the façade's presentation order); the k·dims sign matrix is a plan
    * literal, never a join side.
    */
  def embed_rp(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    require(k >= 1, s"embed_rp: k=$k must be positive")
    val e = emb(s, dir)
    // bounded driver probe (one row) — the embed_pq dims device. Guarded:
    // an empty table must fail loudly, not as a bare NoSuchElementException.
    // Ragged dims are NOT asserted per row here (that is
    // [[Curation.profile_embeddings]]'s alarm); a shorter row zip_with
    // null-pads and the projection goes NULL — visibly wrong, not silent.
    val dimRows = e.select(size(col("embedding"))).head(1)
    require(dimRows.nonEmpty, "embed_rp: embeddings table is empty")
    val dims = dimRows.head.getInt(0)
    val signs = rpSigns(k, dims)
    // maxabs staged as its own projected column first (int8Codes' documented
    // contract, as ann_sq does) — inlining it re-runs the array_max scan per
    // element inside the transform lambda.
    val staged = e
      .select(col("vec_id"), col("embedding"),
        Similarity.maxAbs(col("embedding")).as("maxabs"))
      .select(col("vec_id"),
        Similarity.int8Codes(col("embedding"), col("maxabs")).as("q"))
    val projs = signs.zipWithIndex.map { case (row, i) =>
      aggregate(
        zip_with(col("q"), typedLit(row), (c, sg) => c * sg),
        lit(0L), (a, x) => a + x).as(s"p$i")
    }
    staged.select((col("vec_id") +: projs): _*).orderBy("vec_id")
  }

  /** The per-iteration trace (inertia, summary frame) — exposed so the spec
    * can assert Lloyd's monotone-inertia invariant without re-running. The
    * inertia scan is its own per-round job, so it only runs when traced
    * (`traceInertia`); the production path pays one aggregate per round.
    */
  /** Deliberately NO persist on `e`: each Lloyd round (and the final
    * summary) re-scans the source — iters+1 columnar parquet scans. MLlib
    * persists instead, but pinning the full corpus is exactly what a
    * 100 TB run cannot afford (the repo's no-CacheManager stance); the
    * per-round assignment recompute is inherent to Lloyd either way, and
    * the scan is the cheap, spill-free part. A small-corpus caller that
    * wants the MLlib shape can pass a pre-checkpointed frame.
    */
  private[operators] def kmeansRounds(
      e: DataFrame, k: Int, iters: Int,
      traceInertia: Boolean = false): Seq[(Long, DataFrame)] = {
    var centroids = initCentroids(e, k)
    // the expected width: the lowest-vec_id embedding's
    val dims = centroids.head.size
    val fits = fixedWidth(dims)
    refuseRaggedSeeds("k-means", dims, centroids)
    (1 to iters).map { _ =>
      val assigned = e
        .withColumn("a", when(fits, assignTo(centroids))) // staged once; both fields read from it
        .select(col("vec_id"), col("embedding"),
          col("a").getField("c").as("cluster"),
          col("a").getField("d").as("d"),
          qrow.as("q"))
      // centroid update: per-cluster fixed-point integer sums, one flat
      // codegen'd sum per dimension — the only shuffle, k partial rows per
      // partition after map-side combine. The previous spelling posexploded
      // the embedding first (n·dims rows hashed into (cluster, pos) groups);
      // the flat form pays ONE group-hash probe per vector and dims codegen'd
      // long adds into the same buffer — identical integer algebra (long
      // addition is exact and order-free), dims× fewer aggregated rows, and
      // no Generate node in the per-round plan. The flat sums need
      // fixed-width embeddings: a NULL or ragged row is assigned no
      // cluster, so this aggregate counts it in the NULL group and the
      // round refuses it (`get` reads a short row's missing element as
      // NULL, where ANSI indexing would fail the task first).
      val sums = assigned
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          array((0 until dims).map(p =>
            sum(floor(get(col("embedding"), lit(p)).cast("double") * (1L << 20)))): _*)
            .as("qs"))
        .collect()
      sums.find(_.isNullAt(0)).foreach(r => refuseRagged("k-means", dims, r.getLong(1)))
      val byCluster = sums.map(r =>
        r.getInt(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
      centroids = centroids.zipWithIndex.map { case (prev, c) =>
        byCluster.get(c) match {
          case Some((n, qs)) =>
            (0 until dims).map(p => qs(p).toDouble / (n * (1L << 20)).toDouble)
          case None => prev // empty cluster: carry the previous centroid
        }
      }
      val inertia = if (traceInertia)
        assigned.agg(sum(floor(col("d") * (1L << 20)).cast("long"))).first().getLong(0)
      else -1L
      val summary = assigned
        .groupBy("cluster")
        .agg(count(lit(1)).as("n"), min(col("vec_id")).as("first_vec"),
          sum(col("q")).as("qsum"))
        .orderBy("cluster")
      (inertia, summary)
    }
  }
}
