package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE session/config/materialization/JSON layer shared by the
  * driver-contract mains ([[Verify]], [[Bench]]) and [[Probe]] —
  * the config block was copy-pasted per main with drifting variations, so
  * a future required conf applied to one could silently diverge bench
  * from correctness runs.
  */
private[graft] object DriverSession {

  /** local[cpus] session with the repo's standard conf (AQE at Spark's
    * default, on). SPARK_GRAFT_CPUS overrides `defaultCpus`; log level
    * defaults WARN, SPARK_GRAFT_LOG overrides.
    */
  def build(defaultCpus: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus)
    // '*' is valid for local[...] but not for shuffle.partitions (an int
    // conf) — resolve it to the actual core count instead of poisoning
    // the session
    val parts =
      if (cpus.forall(_.isDigit)) cpus
      else Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Whole-stage-codegen class cache (default 100 entries): a driver
      // running a CATALOG of query shapes — the 188-query bench sweep, or
      // any production scheduler replaying a library of pipelines —
      // generates far more than 100 codegen units, so every repetition
      // recompiles byte-identical Janino classes; measured on this box,
      // tasks of KB-scale stages then spend 1-1.5 s blocked on the compile
      // lock (pipeline_incremental 5.6 s -> 3.4 s, dd_minhash 3.3 s -> 1.8 s
      // min-of-3 from this one setting). Scale-independent: compilation is
      // driver/executor JVM work, unrelated to data volume; the cache holds
      // compiled classes, never data or results.
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries)
      // AQE coalescing floor: with parallelismFirst (Spark's default) the
      // coalesce target is bytes/defaultParallelism CLAMPED BELOW by
      // minPartitionSize = 1 MB — a clamp that assumes rows are cheap
      // relative to their bytes. This library's rows are CPU-expensive
      // (shingle hashing, token scoring, vector folds over small payloads),
      // so the 1 MB clamp serializes exactly the compute-heavy stages:
      // measured, decon_bm25's postings scoring ran 2-task (4.8 s query)
      // and 32-task at a 64k floor (1.8 s), dd_containment 3.2→1.8,
      // q13_fk_remap 3.1→1.6 (A/B min-of-3, same box). The floor binds
      // ONLY when a shuffle carries under ~1 MB/core — at real data sizes
      // partitions are tens of MB and the setting is inert, so it is a
      // workload property (expensive rows, small bytes), not a local-mode
      // tune.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // Whole-stage-codegen bailout threshold, aligned with the JVM's real
      // JIT boundary: HotSpot refuses to compile methods over 8000 bytecodes
      // (-XX:HugeMethodLimit, not configurable in production), so a fused
      // consume method past that runs in the BYTECODE INTERPRETER — measured
      // here: the IVFPQ search stage (encode + ADC + top-k fused over the
      // coded corpus) burned 1.5 ms/row interpreted, and forcing the JIT
      // (-XX:-DontCompileHugeMethods) dropped ann_ivfpq at a 100× replica
      // from 11.9 s to 3.9 s warm. Spark's own bailout (fall back to
      // per-operator execution with small, JIT-able methods) only fires
      // above spark.sql.codegen.hugeMethodLimit, whose 65535 default
      // tolerates methods the JVM will never compile; 8000 makes the
      // bailout fire exactly when fusion would de-JIT the stage (ann_ivfpq
      // 11.9 -> 5.2 s at 100×, ann_pq/embed_pq/decon_bm25 -15..-19 % at
      // sf0.1, nothing slower). Scale-independent: the threshold compares
      // generated-code size, not data size.
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .getOrCreate()
    s.sparkContext.setLogLevel(sys.env.getOrElse("SPARK_GRAFT_LOG", "WARN"))
    s
  }

  /** Whole-stage-codegen class cache size of [[build]] and `Etl.session`. */
  val CodegenCacheEntries = "5000"

  /** Full materialization to the noop sink — evaluates every output column
    * of every row. (`count()` is wrong here: Catalyst prunes unreferenced
    * select expressions under it, so pure-projection queries would time at
    * near-zero instead of their real expression-evaluation cost.)
    */
  def runToNoop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab/CR in builder-authored SQL, or a quote in a caller-supplied
    * path, would otherwise make the driver's json.load fail and silently
    * zero the round's artifact. A null string quotes as `""`.
    */
  def jsonQuote(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
