package graft.operators

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** Deterministic k-means invariants: the assignment step is pinned by the
  * DuckDB oracle (embed_kmeans_assign); these cover what the oracle can't —
  * the iterative fixed-point behavior.
  */
class ClusteringSpec extends AnyFunSuite {

  lazy val spark: SparkSession = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  /** One embeddings.parquet per call — shared by the k-center tests. */
  private def embDir(rows: Seq[(Long, Seq[Float])]): String = {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graftkc").toString
    rows.map { case (id, e) => (id, e, "l") }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  /** The hand-computed k-center plant BOTH spellings pin: 1-D line with a
    * unique argmax every round except the deliberate round-4 distance tie
    * (ids 3 and 4 both at d²=4 → smaller vec_id first), plus a null row.
    */
  private lazy val kcenterPlantDir: String = embDir(Seq(
    0L -> Seq(0f), 1L -> Seq(10f), 2L -> Seq(5f), 3L -> Seq(2f),
    4L -> Seq(8f), 5L -> (null: Seq[Float])))

  test("VecNearest matches least(struct(dist, idx)) exactly, NaN included") {
    import org.apache.spark.sql.functions._
    val book = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(0.0, 1.0))
    val composed = least(book.zipWithIndex.map { case (c, i) =>
      struct(
        aggregate(zip_with(col("embedding"), typedLit(c),
          (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
          lit(0.0), (acc, d) => acc + d).as("d"),
        lit(i).as("c"))
    }: _*)
    val df = spark.sql(
      """SELECT array(CAST('NaN' AS FLOAT), CAST(1.0 AS FLOAT)) AS embedding
        |UNION ALL SELECT array(CAST(0.5 AS FLOAT), CAST(0.5 AS FLOAT))
        |UNION ALL SELECT array(CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT))""".stripMargin)
    val rows = df.select(
      graft.functions.VecNearest.nearest(col("embedding"), book).as("fast"),
      composed.as("ref")).collect()
    rows.foreach { r =>
      val (fd, fc) = (r.getStruct(0).getDouble(0), r.getStruct(0).getInt(1))
      val (rd, rc) = (r.getStruct(1).getDouble(0), r.getStruct(1).getInt(1))
      assert(fc == rc, s"index diverges: $r")
      assert(fd == rd || (fd.isNaN && rd.isNaN), s"distance diverges: $r")
    }
    // the NaN row picks index 0 with d = NaN on both forms (ties -> lowest
    // idx), and the duplicate codeword tie also resolves to the lower idx
    val nanRow = rows.head
    assert(nanRow.getStruct(0).getDouble(0).isNaN && nanRow.getStruct(0).getInt(1) == 0)
  }

  test("kmeans is bit-deterministic across runs and partitionings") {
    val a = Clustering.embed_kmeans(spark, dir, k = 6, iters = 3)
      .collect().map(_.toSeq).toSeq
    val e = Tables.loadParallel(spark, dir, "embeddings").repartition(13)
    val b = Clustering.kmeansRounds(e, k = 6, iters = 3)
      .last._2.collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.map(_.head).toSet.subsetOf((0 until 6).toSet))
  }

  test("a NULL or ragged embedding makes embed_kmeans and pqTrain throw, naming the width") {
    val good = (0L until 6L).map(i => i -> Seq.tabulate(4)(p => (i * 4 + p).toFloat))
    def refusals(rows: Seq[(Long, Seq[Float])]): Seq[String] = {
      val d = embDir(rows)
      Seq(
        intercept[IllegalArgumentException](Clustering.embed_kmeans(spark, d, k = 2, iters = 2)),
        intercept[IllegalArgumentException](
          Clustering.pqTrain(Tables.loadParallel(spark, d, "embeddings"), m = 2, k = 2, iters = 1, sub = 2))
      ).map(_.getMessage)
    }
    // a short, a long and a NULL row after the seeds; a short seed
    for (rows <- Seq(good :+ (9L -> Seq(1f, 2f)), good :+ (9L -> Seq(1f, 2f, 3f, 4f, 5f)),
        good :+ (9L -> (null: Seq[Float])), good.updated(1, 1L -> Seq(1f, 2f, 3f))))
      refusals(rows).foreach(m => assert(m.contains("1 embedding(s) are NULL or not 4 wide"), m))
  }

  test("flat per-dimension centroid sums equal the posexplode reference algebra (pqTrain books bit-exact)") {
    // The round-20 centroid update aggregates sum(floor(emb[p]·2^20)) per
    // group with one flat codegen'd sum per dimension; this replays the
    // pre-refactor posexplode spelling as an in-suite reference and pins
    // bit-equality of the trained codebooks (long addition is exact and
    // order-free, so the two spellings must agree to the last bit).
    import org.apache.spark.sql.functions._
    val e = Tables.loadParallel(spark, dir, "embeddings")
    val (m, k, iters) = (4, 5, 2)
    val dims = e.select(size(col("embedding"))).first().getInt(0)
    assert(dims % m == 0)
    val sub = dims / m
    val got = Clustering.pqTrain(e, m, k, iters, sub)
    // reference: the posexplode aggregate, rounds unrolled identically
    val seed = Clustering.initCentroids(e, k)
    var ref: Seq[Seq[Seq[Double]]] =
      (0 until m).map(s => seed.map(v => v.slice(s * sub, (s + 1) * sub).toSeq))
    for (_ <- 1 to iters) {
      val parts = (0 until m).map { s =>
        val sv = slice(col("embedding"), s * sub + 1, sub)
        val code = Clustering.assignSub(sv, ref(s)).getField("c")
        struct(lit(s).as("s"), code.as("code"), sv.as("sv"))
      }
      val sums = e.select(explode(array(parts: _*)).as("p"))
        .select(col("p.s").as("s"), col("p.code").as("code"),
          posexplode(col("p.sv")))
        .groupBy(col("s"), col("code"), col("pos"))
        .agg(sum(floor(col("col").cast("double") * (1L << 20))).as("qs"),
          count(lit(1)).as("n"))
        .collect()
      val byKey = sums.map(r =>
        (r.getInt(0), r.getInt(1), r.getInt(2)) -> (r.getLong(3), r.getLong(4))).toMap
      ref = ref.zipWithIndex.map { case (book, s) =>
        book.zipWithIndex.map { case (prev, j) =>
          if (byKey.contains((s, j, 0)))
            (0 until sub).map { p =>
              val (qs, n) = byKey((s, j, p))
              qs.toDouble / (n * (1L << 20)).toDouble
            }
          else prev
        }
      }
    }
    assert(got == ref, "flat-sum codebooks diverge from the posexplode reference")
  }

  test("Lloyd invariant: inertia is non-increasing across iterations") {
    val e = Tables.loadParallel(spark, dir, "embeddings")
    val inertias = Clustering.kmeansRounds(e, k = 6, iters = 4, traceInertia = true).map(_._1)
    // centroids are fixed-point-rounded means (≤ 2^-20 per component), so
    // allow that rounding's worth of slack on the comparison
    inertias.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + (prev / 1000000L).max(16L),
        s"inertia must not increase: $inertias")
    }
    assert(inertias.last < inertias.head, "four rounds must actually improve the init")
  }

  test("every cluster summary row is consistent: sizes sum to the corpus") {
    val rows = Clustering.embed_kmeans(spark, dir, k = 6, iters = 2).collect()
    val total = Tables.loadParallel(spark, dir, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == total)
  }

  test("embed_pq: bit-deterministic across partitionings; finer codebooks reduce error") {
    val a = Clustering.embed_pq(spark, dir, m = 8, k = 8, iters = 2)
      .collect().map(_.toSeq).toSeq
    val e = Tables.loadParallel(spark, dir, "embeddings").repartition(11)
    val sub = 64 / 8
    val b = Clustering.encodePq(e, Clustering.pqTrain(e, 8, 8, 2, sub), sub)
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.md5(
          org.apache.spark.sql.functions.concat_ws(",",
            org.apache.spark.sql.functions.col("codes"))).as("code_digest"),
        org.apache.spark.sql.functions.col("err_q"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(a == b, "PQ must be partitioning-invariant")
    // larger codebooks (k 8 → 16) can only lower total quantization error
    val err8 = a.map(_(2).asInstanceOf[Long]).sum
    val err16 = Clustering.embed_pq(spark, dir, m = 8, k = 16, iters = 2)
      .collect().map(_.getLong(2)).sum
    assert(err16 < err8, s"k=16 err $err16 !< k=8 err $err8")
  }

  test("embed_pq: ADC self-match — a corpus vector's own code is its nearest code") {
    import org.apache.spark.sql.functions._
    val e = Tables.loadParallel(spark, dir, "embeddings")
    val sub = 8
    val books = Clustering.pqTrain(e, 8, 16, 2, sub)
    val coded = Clustering.encodePq(e, books, sub)
      .select(col("vec_id"), col("err_q")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the quantization error IS the ADC distance from a vector to its own
    // code; for planted exact-duplicate vectors the codes must be identical
    val dupCodes = Clustering.encodePq(
      e.limit(5).union(e.limit(5)), books, sub)
      .groupBy("vec_id").agg(countDistinct(col("codes")).as("n"))
      .collect().map(_.getLong(1))
    assert(dupCodes.forall(_ == 1L), "identical vectors must encode identically")
    assert(coded.values.forall(_ >= 0L), "fixed-point error is non-negative")
  }

  test("assign step: one shuffle-free map pass + bounded-domain aggregate") {
    val p = Clustering.embed_kmeans_assign(spark, dir)
      .queryExecution.sparkPlan.toString
    // centroid table is plan-literal: no join at all, just scan → project →
    // partial agg → exchange(k rows) → final agg
    assert(!p.contains("Join"), s"assignment must not plan a join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, "map-side partials required")
    // samp_kcenter_assign's FINAL pass has the same contract: the center
    // table is k·dims plan literals, so the scan is map-only — no join,
    // and the only exchange is the presentation sort
    val pa = Clustering.samp_kcenter_assign(spark, dir)
      .queryExecution.sparkPlan.toString
    assert(!pa.contains("Join"), s"kcenter assignment must not plan a join:\n$pa")
  }

  test("samp_kcenter: planted geometry selects in hand-computed farthest-point order; greedy radius is non-increasing; ties and guards") {
    // 1D line ([[kcenterPlantDir]]): seed = id 0 at x=0; farthest is 10
    // (d²=100), then 5 (d²=25 to both ends, midpoint of [0,10]), then the
    // round-4 tie breaks to id 3 — every round hand-computable
    val dir1 = kcenterPlantDir
    val got = Clustering.samp_kcenter(spark, dir1, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    // radii: round2 = d²(10,0)=100; round3: mind(5)=25, mind(2)=4,
    // mind(8)=4 → pick id 2 at 25; round4: mind(2)=4, mind(8)=4 → tie on
    // distance → smaller vec_id = 3; round5: mind(8)=4
    val fp = (d: Double) => math.floor(d * (1L << 20)).toLong
    assert(got == Seq(
      (1L, 0L, -1L), (2L, 1L, fp(100.0)), (3L, 2L, fp(25.0)),
      (4L, 3L, fp(4.0)), (5L, 4L, fp(4.0))))
    // greedy invariant on the real corpus: radius never increases
    val radii = Clustering.samp_kcenter(spark, dir).collect()
      .filter(!_.isNullAt(2)).map(_.getLong(2)).toSeq
    assert(radii.size == Clustering.kcenterK - 1 &&
      radii.zip(radii.tail).forall { case (a, b) => a >= b },
      s"coverage radius must be non-increasing, got $radii")
    // deterministic across runs
    assert(Clustering.samp_kcenter(spark, dir).collect().toSeq ==
      Clustering.samp_kcenter(spark, dir).collect().toSeq)
    // guards: k below the seed+1 minimum; k past the scoreable count
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter(spark, dir1, k = 1)
    }.getMessage.contains("k=1"))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter(spark, dir1, k = 6) // 5 non-null vectors
    }.getMessage.contains("exceeds"))
  }

  test("samp_kcenter_fast: the running-min spelling is frame-equal to the re-min façade, ties included") {
    // the SAME planted tie geometry (ids 3 and 4 both at d²=4) must break
    // the same way through the persisted running min as through the
    // per-round re-min — the argmax struct is shared, but a dmin drift
    // would surface exactly here
    val dir1 = kcenterPlantDir
    assert(Clustering.samp_kcenter_fast(spark, dir1, k = 5).collect().toSeq ==
      Clustering.samp_kcenter(spark, dir1, k = 5).collect().toSeq)
    // full-frame parity on the real corpus at the façade k
    assert(Clustering.samp_kcenter_fast(spark, dir).collect().toSeq ==
      Clustering.samp_kcenter(spark, dir).collect().toSeq)
    // guards mirror the façade's
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_fast(spark, dir1, k = 1)
    }.getMessage.contains("k=1"))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_fast(spark, dir1, k = 6)
    }.getMessage.contains("exceeds"))
  }

  test("samp_kcenter_sharded: hand-computed two-phase plants (incl. exhausted shards); coverage within factor 2 of exact greedy; guards") {
    // plant A — shards=2, kPrime=2, k=3 on a 1-D line (null row dropped):
    //   shard0 = ids {0,2,4,6} at x {0,5,8,1}: seed 0, farthest 4 (d²=64)
    //   shard1 = ids {1,3}    at x {10,2}:    seed 1, farthest 3
    //   coreset {0,4,1,3}; final greedy: seed 0 → 1 (d²=100) → tie at
    //   d²=4 between 3 and 4 breaks to id 3
    val dirA = embDir(Seq(
      0L -> Seq(0f), 1L -> Seq(10f), 2L -> Seq(5f), 3L -> Seq(2f),
      4L -> Seq(8f), 5L -> (null: Seq[Float]), 6L -> Seq(1f)))
    val gotA = Clustering
      .samp_kcenter_sharded(spark, dirA, k = 3, kPrime = 2, shards = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(gotA == Seq((1L, 0L, -1L), (2L, 1L, 100L << 20), (3L, 3L, 4L << 20)))
    // plant B — EXHAUSTED shards: shards=4 over 5 points leaves three
    // 1-point shards with nothing past their seed, and shard0 itself
    // runs dry at round 3 (kPrime=3 asks for more than exists); the
    // coreset is the whole corpus and the final greedy picks 0 → 1 → 2
    val dirB = embDir(Seq(
      0L -> Seq(0f), 1L -> Seq(10f), 2L -> Seq(5f), 3L -> Seq(2f),
      4L -> Seq(8f)))
    val gotB = Clustering
      .samp_kcenter_sharded(spark, dirB, k = 3, kPrime = 3, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSeq
    assert(gotB == Seq((1L, 0L, -1L), (2L, 1L, 100L << 20), (3L, 2L, 25L << 20)))
    // determinism on the real corpus
    val real = Clustering.samp_kcenter_sharded(spark, dir).collect().toSeq
    assert(real == Clustering.samp_kcenter_sharded(spark, dir).collect().toSeq)
    // approximation quality: CORPUS coverage radius (max over vectors of
    // min d² to a selected center) of the sharded selection vs the exact
    // greedy's at the same k — the composable-coreset constant, measured
    // and pinned with slack
    val vecs = Tables.load(spark, dir, "embeddings")
      .filter(org.apache.spark.sql.functions.col("embedding").isNotNull)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def coverage(ids: Seq[Long]): Double = {
      val cs = ids.map(vecs)
      vecs.valuesIterator.map(v => cs.map(c => d2(v, c)).min).max
    }
    val covSharded = coverage(real.map(_.getLong(1)))
    val covExact = coverage(
      Clustering.samp_kcenter(spark, dir).collect().map(_.getLong(1)).toSeq)
    assert(covSharded <= 2.0 * covExact,
      s"sharded coverage $covSharded vs exact $covExact — the coreset " +
        "approximation degraded past the pinned factor")
    // guards: param floors, coreset capacity, and the runtime yield check
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_sharded(spark, dirA, k = 1)
    }.getMessage.contains("k=1"))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_sharded(spark, dirA, kPrime = 0)
    }.getMessage.contains("kPrime=0"))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_sharded(spark, dirA, shards = 0)
    }.getMessage.contains("shards=0"))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_sharded(spark, dirA, k = 3, kPrime = 2, shards = 1)
    }.getMessage.contains("coreset capacity"))
    val dirTiny = embDir(Seq(0L -> Seq(0f), 1L -> Seq(1f)))
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_kcenter_sharded(spark, dirTiny, k = 3, kPrime = 4, shards = 1)
    }.getMessage.contains("yielded only"))
  }

  test("samp_kcenter_assign: centers self-assign; ties go to the EARLIEST round; the greedy coverage theorem holds corpus-wide") {
    // plant: selection over {0:x0, 5:x10, 3:x4, 7:x7} picks 0 (seed),
    // 5 (round 2, d²=100), 3 (round 3, d²=16). Probe id 7 then sits at
    // d²=9 from BOTH center 5 (round 2) and center 3 (round 3): the tie
    // must break to the EARLIER round — center_id 5 — where a
    // min-by-center-id regression would emit 3.
    val dirT = embDir(Seq(
      0L -> Seq(0f), 3L -> Seq(4f), 5L -> Seq(10f), 7L -> Seq(7f)))
    val asg = Clustering.samp_kcenter_assign(spark, dirT, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(asg(0L) == ((0L, 1L, 0L)) && asg(5L) == ((5L, 2L, 0L)) &&
      asg(3L) == ((3L, 3L, 0L)), "centers must self-assign at d²=0")
    assert(asg(7L) == ((5L, 2L, 9L << 20)),
      "the equidistant probe must take the earliest-round center")
    // the real corpus: every vector's coverage distance is bounded by the
    // LAST selection radius (the would-be round k+1 pick could not exceed
    // round k's) — the Gonzalez invariant, corpus-wide
    val sel = Clustering.samp_kcenter(spark, dir).collect()
    val lastRadius = sel.last.getLong(2)
    val all = Clustering.samp_kcenter_assign(spark, dir).collect()
    assert(all.length > sel.length, "assignment covers the whole corpus")
    assert(all.map(_.getLong(3)).max <= lastRadius,
      "greedy coverage theorem: max assigned d2_fp <= round-k radius_fp")
    // each selected center self-assigns to its own round
    val byId = all.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
      r.getLong(3)))).toMap
    sel.foreach { s =>
      assert(byId(s.getLong(1)) == ((s.getLong(1), s.getLong(0), 0L)))
    }
  }

  test("samp_curriculum_coverage: plug-compatible with samp_curriculum; phases are exact d2_fp quartiles, farthest first; dense per-(phase, shard) positions") {
    // plug compatibility: same frame shape as the quality curriculum
    // (vec_id stands where doc_id stands), so one trainer reads either
    val cov = Clustering.samp_curriculum_coverage(spark, dir)
    val qual = Curation.samp_curriculum(spark, dir)
    assert(cov.columns.toSeq == Seq("vec_id", "phase", "shard", "pos"))
    assert(cov.schema.fields.map(_.dataType).toSeq ==
      qual.schema.fields.map(_.dataType).toSeq,
      "coverage and quality curricula must share the consumer schema")
    val rows = cov.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d2 = Clustering.samp_kcenter_assign(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rows.length == d2.size, "every assigned vector is scheduled once")
    // phase 0 = FARTHEST quartile: coverage distance never increases
    // across phase boundaries
    val byPhase = rows.groupBy(_._2).view
      .mapValues(_.map(r => d2(r._1))).toMap
    assert(byPhase.keySet == Set(0L, 1L, 2L, 3L))
    for (p <- 0L to 2L)
      assert(byPhase(p).min >= byPhase(p + 1).max,
        s"phase $p must sit at or above phase ${p + 1} in coverage distance")
    // the samp_shuffle device: positions dense from 0 within each
    // (phase, shard), ordered by the content hash
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (0L until g.size).toSeq,
        "per-(phase, shard) positions must be dense from 0")
    }
    // deterministic across runs (content-addressed order)
    assert(rows.toSeq ==
      Clustering.samp_curriculum_coverage(spark, dir).collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
    assert(intercept[IllegalArgumentException] {
      Clustering.samp_curriculum_coverage(spark, dir, nShards = 0)
    }.getMessage.contains("nShards"))
  }

  test("samp_curriculum_mixed: phases decompose into the parents' own quartiles; consumer schema; dense windows") {
    val mixed = Clustering.samp_curriculum_mixed(spark, dir)
    val cov = Clustering.samp_curriculum_coverage(spark, dir)
    val qual = Curation.samp_curriculum(spark, dir)
    // plug-compatible consumer schema (one trainer reads any schedule)
    assert(mixed.columns.toSeq == Seq("vec_id", "phase", "shard", "pos"))
    assert(mixed.schema.fields.map(_.dataType).toSeq ==
      qual.schema.fields.map(_.dataType).toSeq)
    val rows = mixed.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // DECOMPOSITION: phase/4 is exactly the standalone coverage phase,
    // phase%4 exactly the standalone quality phase — the shared-code
    // plug-compat contract, asserted row for row
    val covPhase = cov.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qualPhase = qual.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val both = covPhase.keySet.intersect(qualPhase.keySet)
    assert(rows.map(_._1).toSet == both,
      "the composed schedule covers exactly the dual-signal population")
    rows.foreach { case (id, p, _, _) =>
      assert(p / 4 == covPhase(id) && p % 4 == qualPhase(id),
        s"vec $id: composed phase $p must be (cov ${covPhase(id)}, " +
          s"qual ${qualPhase(id)})")
    }
    // both signals discriminate: more than 4 distinct cells, and the
    // extremes exist on this corpus
    val phases = rows.map(_._2).toSet
    assert(phases.size > 4, s"composition must out-resolve one signal: $phases")
    // the samp_shuffle device per (phase, shard)
    rows.groupBy(r => (r._2, r._3)).foreach { case (_, g) =>
      assert(g.map(_._4).sorted.toSeq == (0L until g.size).toSeq)
    }
    // deterministic (content-addressed)
    assert(rows.toSeq == Clustering.samp_curriculum_mixed(spark, dir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq)
  }
}
