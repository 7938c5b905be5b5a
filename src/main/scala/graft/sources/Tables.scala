package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType, TimestampNTZType, TimestampType}

/** Source registry for the driver-provided synthetic tables (TESTDATA.md).
  *
  * The reference delegates storage to PostgreSQL schemas
  * (`/root/reference/schema/cerner.sql:1-2`); the rebuild's storage format is
  * parquet, registered as temp views so `spark.sql` text can be shared with
  * the DuckDB oracle verbatim.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val extra: Seq[String] = Seq("events", "documents", "embeddings")
  val all: Seq[String] = tpch ++ extra

  /** The canonical documents-table schema — owned by the source registry,
    * referenced by every interchange-format module ([[Jsonl]], [[Orc]])
    * rather than parked inside one format.
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Per-JVM scratch directory for (prefix, key) — for façade queries that
    * round-trip the corpus through another format or build a throwaway
    * index. One `Files.createTempDirectory` PER INVOCATION leaks a full
    * corpus/index copy each call (a 3-pass bench over the façade writes
    * each artifact dozens of times, growing /tmp without bound); one
    * memoized dir per (artifact, corpus), overwritten in place by the
    * mode("overwrite") writers, bounds /tmp at one copy per artifact per
    * JVM — and a shutdown hook removes even that.
    */
  private val scratch = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Idempotent symlink staging for the single-file testdata tables (the
    * file-STREAM source lists a directory and never splits a file, so a
    * driver-style lone parquet FILE needs a symlink-parent dir). NOFOLLOW
    * existence check (a dangling link must read as present, not recreated
    * into FileAlreadyExists), and the create races to success: scratch
    * dirs are memoized per (prefix, key) IN THIS JVM, so two threads
    * staging the same table concurrently share one dir — the loser's
    * link is the same target, so losing IS success. (Today's staging
    * callers are single-threaded mains; the guard is the contract, not a
    * live-bug fix.) After the exists/create race settles, the surviving
    * link's target must EQUAL `target` — a pre-existing link into a
    * reused directory that points elsewhere would otherwise silently
    * serve a stale/different table to every downstream read; fail loud
    * instead (today's fresh-per-JVM scratch dirs can't hit this, so the
    * assert is free — it guards the future caller that can).
    */
  def ensureSymlink(link: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, LinkOption}
    if (!Files.exists(link, LinkOption.NOFOLLOW_LINKS))
      try Files.createSymbolicLink(link, target)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    // whatever survived the race must BE a symlink at our target — a
    // regular file/dir squatting on the link name (an aborted copy in a
    // reused staging dir) would otherwise serve a stale table silently,
    // the exact mode this guard exists to fail loud on
    require(Files.isSymbolicLink(link),
      s"ensureSymlink: $link exists but is not a symlink — the staging " +
        "directory holds a real file/dir where the table link belongs")
    val got = Files.readSymbolicLink(link)
    // CANONICAL comparison: a relative link target resolves against the
    // link's parent (the symlink contract), and an equivalent spelling
    // (`./x`, a `..` hop, relative vs absolute from another call site
    // sharing the staging dir) names the SAME table — only a genuinely
    // different target may fail the guard. toRealPath resolves through
    // symlinked path COMPONENTS too (a textual normalize() would
    // collapse `sym/../x` without following `sym` and could equate two
    // different real tables); the textual form is only the fallback for
    // a target that does not exist yet (dangling staging links are
    // legitimate here).
    def canon(p: java.nio.file.Path): java.nio.file.Path = {
      val base = link.toAbsolutePath.getParent
      val abs = if (p.isAbsolute) p else base.resolve(p)
      try abs.toRealPath()
      catch { case _: java.io.IOException => abs.normalize() }
    }
    require(canon(got) == canon(target),
      s"ensureSymlink: $link already points at $got, not $target — " +
        "the staging directory is being reused across different tables")
  }

  def scratchDir(prefix: String, key: String): String =
    scratch.computeIfAbsent(s"$prefix|$key", _ => {
      val d = java.nio.file.Files.createTempDirectory(prefix)
      sys.addShutdownHook {
        import java.nio.file._
        try Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
        catch { case _: Throwable => () } // best-effort; /tmp is disposable
      }
      d.toString
    })

  /** The observed schema of an events parquet `path` and its
    * [[eventsTsNormalizer]], from one driver-side read of the first data
    * file's footer ([[firstFooter]]) — no job. The footer is converted as
    * Spark's inference converts it, with `spark.sql.legacy.parquet.nanosAsLong`
    * set on a clone of the session conf only: the flag changes how EVERY
    * parquet read in the session surfaces TIMESTAMP(NANOS) (raw long instead
    * of a loud failure), so leaking it session-wide would inflict the
    * silently-guessed-unit failure on readers that have no normalizer.
    *
    * Under the flag BOTH a nanos timestamp and a genuine raw BIGINT column
    * surface as LongType, so the Spark type under-determines the unit — a
    * regeneration shipping raw epoch-micros int64 would silently be divided
    * by 1000 (the exact 1000× class this dispatch exists to stop). The same
    * footer's logical-type annotation on `ts` is the ground truth; a LongType
    * `ts` without the NANOS annotation is refused. When the file really IS
    * nanos the flag is set on the session un-scoped: the executing scan
    * consults the conf again at task planning, and only that corpus needs it.
    */
  private def eventsSchema(spark: SparkSession, path: String): (StructType, DataFrame => DataFrame) = {
    val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
    // fail with the designed refusal: the unit sniff needs a footer
    val footer = firstFooter(spark, path).getOrElse(throw new IllegalArgumentException(
      s"events timestamp-unit sniff: no parquet data file under $path — " +
        "cannot inspect a footer to determine the ts unit"))
    val conf = spark.sessionState.conf.clone()
    conf.setConfString(nanosAsLong, "true")
    val schema = ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(conf))
    val tsType = schema("ts").dataType
    if (tsType == LongType) {
      val parquetSchema = footer.getParquetMetadata.getFileMetaData.getSchema
      val nanos = parquetSchema.getType(parquetSchema.getFieldIndex("ts")).asPrimitiveType()
        .getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      }
      require(nanos,
        s"events.ts in $path surfaced as BIGINT but the parquet footer " +
          "does not annotate TIMESTAMP(NANOS) — a raw integer epoch " +
          "column of unknown unit; refusing to guess (see eventsTsNormalizer)")
      spark.conf.set(nanosAsLong, "true")
    }
    (schema, eventsTsNormalizer(tsType))
  }

  /** The footer of the first data file of a parquet `path` (a file, a
    * directory of part files, or a glob), read on the driver: the
    * name-first file not hidden by a `_` or `.` prefix. None when there is
    * no such file (a missing path, or part files a level down).
    */
  private def firstFooter(spark: SparkSession, path: String): Option[Footer] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def hidden(name: String) = name.startsWith("_") || name.startsWith(".")
    val files = Option(fs.globStatus(p)).toSeq.flatten.flatMap { s =>
      if (s.isFile) Seq(s)
      else fs.listStatus(s.getPath).toSeq.filter(c => c.isFile && !hidden(c.getPath.getName))
    }
    files.map(_.getPath).sortBy(_.getName).headOption.map { f =>
      val in = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try new Footer(f, in.getFooter) finally in.close()
    }
  }

  /** `spark.read.parquet(path)` with the schema read from the first data
    * file's footer on the driver ([[firstFooter]]), converted the way
    * Spark's own inference converts it — Spark's embedded schema when the
    * writer stored one, otherwise the parquet types under the session's
    * conf. Spark's inference reads that same footer, but inside a job;
    * this starts none. Like Spark without `mergeSchema`, it assumes every
    * file of the path shares the first file's schema. A path with no data
    * file of its own falls to Spark's read, which infers or reports it.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    firstFooter(spark, path) match {
      case Some(footer) =>
        val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        spark.read.schema(ParquetFileFormat.readSchemaFromFooter(footer, converter)).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** Table `name` of the corpus in `dir`, read with its footer schema and
    * starting no job. The generator has shipped events.ts as
    * TIMESTAMP(NANOS), TIMESTAMP_NTZ and TIMESTAMP(MICROS) across
    * regenerations, so `events` dispatches on the type its footer declares
    * ([[eventsSchema]]) and is normalized to TIMESTAMP — never an assumed
    * unit; every other table is [[parquet]].
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    if (name == "events") {
      val (schema, normalizeTs) = eventsSchema(spark, path)
      normalizeTs(spark.read.schema(schema).parquet(path))
    } else parquet(spark, path)
  }

  /** The `ts`-normalizing transform keyed on the type the parquet reader
    * observed for `events.ts` — ONE dispatch shared by the batch reader
    * ([[load]]) and the stream reader
    * ([[graft.streaming.EventsStream.readStream]]), so batch and stream can
    * never disagree about a file's timestamp unit (the round-9 regression:
    * the stream path hard-coded the nanos assumption and a testdata
    * regeneration to micros shifted every streamed event 1000×). Fails loud
    * on any other type: silently guessing a unit is a thousand-fold error.
    */
  def eventsTsNormalizer(observed: DataType): DataFrame => DataFrame = observed match {
    // TIMESTAMP(NANOS), surfaced as a raw nanos long under
    // spark.sql.legacy.parquet.nanosAsLong (the vectorized reader otherwise
    // rejects the unit); the generator emits microsecond-precision values,
    // so the truncation is lossless
    case LongType => _.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    // files written isAdjustedToUTC=false read as TIMESTAMP_NTZ, which time
    // functions like unix_micros reject — normalize (session TZ is pinned
    // UTC, so the instant is unchanged)
    case TimestampNTZType => _.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => identity
    case other => throw new IllegalArgumentException(
      s"events.ts read as unsupported type ${other.sql} — expected " +
        "TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP; refusing to guess the unit")
  }

  /** Observed on-disk schema of an events parquet file/directory plus the
    * matching [[eventsTsNormalizer]] — the same footer read, refusal and
    * conf handling as [[load]] ([[eventsSchema]]). File-stream sources
    * cannot infer schemas: `readStream` forces exactly what the footer
    * declares and applies the same normalizer the batch path uses.
    */
  def eventsStreamSchema(spark: SparkSession, path: String): (StructType, DataFrame => DataFrame) =
    eventsSchema(spark, path)

  /** [[load]] + guarantee at least the session's default parallelism in
    * partitions. Expression-heavy per-row pipelines (shingle hashing,
    * winnowing, vector dot products) otherwise run on however many splits
    * the SCAN yields — and a small single-row-group parquet file is one
    * unsplittable partition, pinning the whole map side to one core. At
    * real scale the scan is already split and this is a no-op; when it does
    * fire, the extra exchange moves only the raw rows once, far less than
    * the compute it unlocks.
    */
  def loadParallel(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }
}
