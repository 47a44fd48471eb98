package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet star-schema loaders for the driver fixtures (TESTDATA.md).
  *
  * Every query reads `"$sfDir/<table>.parquet"`. The read schema is the
  * table file's own, taken from one footer on the driver
  * ([[footerSchema]]) — the footer Spark's schema inference samples, so
  * the columns and types are exactly the inferred ones, but no
  * inference job runs and nothing is coerced. The events table carries
  * nanosecond-precision timestamps, which Spark's vectorized parquet reader
  * rejects by default — [[Sessions.tune]] flips the legacy nanos-as-long
  * switch so we can read it and normalize explicitly (see [[Tables.events]]).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(footerSchema(spark, path)).parquet(path)
  }

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * without a Spark job. Inference without `mergeSchema` samples one
    * footer: the first data file in sorted path order under `path`
    * (hidden `_`/`.` names skipped, partition dirs `k=v` kept, symlinks
    * followed). This reads that footer and converts it with the
    * session's own converter, so Spark's row-metadata schema,
    * `nanosAsLong` and `inferTimestampNTZ` apply exactly as in
    * inference, and every field reads nullable, as a file source's
    * fields do. Partition columns are not in a footer: a partitioned
    * layout's reader still discovers them from the paths. A missing
    * path or one with no data file fails, as inference does. */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    def hidden(name: String) =
      (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
        name.endsWith("._COPYING_")
    // getFileStatus follows a symlink; a listed symlink is resolved the same way
    def leaves(st: FileStatus): Iterator[FileStatus] = {
      val s = if (st.isSymlink) fs.getFileStatus(st.getPath) else st
      if (!s.isDirectory) Iterator(s)
      else fs.listStatus(s.getPath).iterator
        .filterNot(c => hidden(c.getPath.getName)).flatMap(leaves)
    }
    val first = leaves(fs.getFileStatus(root)).minByOption(_.getPath.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"no parquet data file under $path to read a schema from"))
    val footer = new Footer(first.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
    nullable(ParquetFileFormat.readSchemaFromFooter(
      footer, new ParquetToSparkSchemaConverter(spark.sessionState.conf))).asInstanceOf[StructType]
  }

  /** `t` with every field, element and value nullable, as a file
    * source surfaces it. */
  private[graft] def nullable(t: DataType): DataType = t match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  /** documents/embeddings ship as ONE small parquet file → one input
    * split → every downstream per-token/per-dimension transform runs on a
    * single core (measured: the whole dedup family serialized on 1 of 32
    * threads, 17 s inside a broadcast build). The explicit partition
    * count matters: these rows are tiny in BYTES but enormous in CPU per
    * byte (md5 per shingle), and AQE coalesces a no-arg `repartition()`
    * back to 1 partition on byte-size grounds.
    *
    * The spread is CONDITIONAL on the scan actually being split-starved:
    * at real scale file splits already provide the parallelism, and an
    * unconditional `repartition()` would glue a full shuffle of the
    * corpus into every load. Only when the scan yields fewer splits than
    * the cluster has cores is the narrow reshuffle of a few thousand
    * skinny rows worth it (and then it's noise). */
  def spreadIfStarved(s: SparkSession, df: DataFrame): DataFrame = {
    val par = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < par) df.repartition(par) else df
  }
  def documents(s: SparkSession, d: String): DataFrame =
    spreadIfStarved(s, load(s, d, "documents"))
  def embeddings(s: SparkSession, d: String): DataFrame =
    spreadIfStarved(s, load(s, d, "embeddings"))

  /** events.parquet stores TIMESTAMP(NANOS). With
    * `spark.sql.legacy.parquet.nanosAsLong=true` Spark surfaces it as a
    * LongType nanos-since-epoch column; we convert to a microsecond
    * TimestampType here (same truncation DuckDB applies reading NS into
    * its microsecond TIMESTAMP).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType =>
        // Integer division: `floor(ts / 1000)` would promote the INT64 nanos
        // to double (ulp at 2024-epoch magnitudes is 256ns → ±1µs drift vs
        // DuckDB's exact NS→US cast). `div` keeps the arithmetic integral;
        // fixture timestamps are positive so trunc == floor.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ => raw
    }
  }
}

object Sessions {
  /** The local session the CLI entry points start from (Bench keeps
    * its own): `local[cpus]` with as many shuffle partitions, UTC,
    * nanos-as-long parquet reads, UI off, then [[tune]]d. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    tune(spark)
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Session tuning every entry point applies. Idempotent. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The driver's generator writes naive timestamp[us] columns
    // (isAdjustedToUTC=false). Left to the default inference those
    // surface as TIMESTAMP_NTZ, which unix_micros()/to_utc_timestamp()
    // reject outright — read them as the session-UTC TIMESTAMP instead,
    // which is value-identical ONLY under a UTC session TZ, so that
    // invariant is enforced right here rather than trusted to the
    // caller's builder: a Pipeline.run* caller handing in a non-UTC
    // session would otherwise silently shift every unix_micros/date
    // value against the DuckDB oracle.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // InferFiltersFromGenerate turns every explode(f(x)) into a pushed-down
    // scan filter `size(f(x)) > 0` that re-evaluates f — for the dedup
    // family f is the whole interpreted shingle pipeline, and the inferred
    // filter was measured running it once more per scan ROW on the scan's
    // single input split (16 s of the 20 s query). The explode already
    // skips empty arrays; the inferred filter is pure overhead here.
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    // Custom Catalyst functions (parse_brl_money, dot_product) and the
    // similarity-join operator (strategy + optimizer rule). Deployed
    // clusters inject these via graft.GraftExtensions instead.
    Functions.register(spark)
    plans.SimilarityJoin.install(spark)
    spark
  }
}

/** Expression helpers shared by queries and their DuckDB oracle twins. */
object Exprs {
  /** Order-independent exact money sum.
    *
    * Summing raw doubles is non-associative, so a shuffle-order change (or
    * an engine change: Spark vs DuckDB) can flip low bits and break the
    * driver's hash compare. The contract is
    * `CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE)`: each addend rounds
    * once to scale 6, the aggregation is exact and order-free, the final
    * double conversion is correctly rounded.
    *
    * Implementation is [[graft.functions.ExactMoneySum]] — a codegen'd
    * DeclarativeAggregate over a two-long fixed-point buffer that is
    * bit-identical to the decimal form (proven exhaustively in
    * `ExactMoneySumSpec`) without boxing a precision-38 BigDecimal per
    * row. Domain: |x| ≤ ~9.2·10^12 (beyond that the decimal form is the
    * right tool; the quantizer fails loudly, like an ANSI cast).
    *
    * DuckDB twin: the decimal sum converted to DOUBLE **through
    * VARCHAR**. DuckDB's direct `CAST(DECIMAL AS DOUBLE)` rounds twice
    * (int128 unscaled → double, then ÷10^scale), which is one ulp off
    * once the unscaled sum passes 2^53 micros (~9·10^9 in money units —
    * first reachable at the sf1 probe, caught there); decimal → VARCHAR
    * is exact digits and VARCHAR → DOUBLE is a correctly-rounded strtod,
    * matching Spark's BigDecimal.doubleValue on every input.
    */
  def dsum(c: Column): Column =
    call_function("dsum_exact", c.cast(DoubleType))

  /** Windowed variant of [[dsum]] — exact partition-wide sum. */
  def dsumOver(c: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    call_function("dsum_exact", c.cast(DoubleType)).over(w)

  /** The original decimal-cast form of [[dsum]] (reference baseline for
    * the equivalence tests; behaviorally identical). */
  def dsumDecimal(c: Column): Column =
    sum(c.cast(DecimalType(38, 6))).cast(DoubleType)

  /** SQL fragment twin of [[dsum]] for oracle authoring (see the
    * VARCHAR-route note above — correctly rounded at every magnitude). */
  def dsumSql(x: String): String =
    s"CAST(CAST(SUM(CAST($x AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE)"

  /** Portable 60-bit hash — bit-identical in Spark and DuckDB.
    *
    * Both engines agree on md5 of a UTF-8 string; the first 15 hex chars
    * (60 bits) fit a signed INT64 in both. Used as the hash family for
    * MinHash/SimHash so the DuckDB oracle can REPLAY the exact signatures
    * rather than approximate them. In a production 100 TB run you'd swap
    * this for `xxhash64` (one fused codegen'd call, no hex round-trip) —
    * md5 is chosen here strictly for cross-engine replayability.
    */
  def phash(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** DuckDB twin of [[phash]]. */
  def phashSql(x: String): String =
    s"CAST('0x' || substr(md5($x), 1, 15) AS BIGINT)"

  /** Client-side twin of the engines' md5-hex — for plan-time constants
    * (LSH hyperplanes) and the custom physical operator, so every
    * consumer derives from the identical hash family. */
  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(32)
    d.foreach(b => sb.append(f"${b & 0xff}%02x"))
    sb.toString
  }

  /** Client-side twin of [[phash]]. */
  def phashLong(s: String): Long =
    java.lang.Long.parseLong(md5Hex(s).substring(0, 15), 16)

  /** Cheap PORTABLE integer mix of two int keys — the fast member of the
    * [[phash]] family for hot per-row paths (md5's hex round-trip
    * dominated `sk7_kmv_quantiles`' scan). Two Lehmer-LCG rounds mod the
    * Mersenne prime 2^31−1: every intermediate stays below 2^47, so the
    * arithmetic is exact in any engine's signed 64-bit integers — no
    * wrap-around semantics to disagree on (Spark ANSI overflow vs DuckDB
    * error vs C wrap) — and [[pmix2Sql]] replays it bit-for-bit. 31-bit
    * output: callers that rank by it (KMV bottom-k) must break ties on
    * the original keys, which they already do for determinism. */
  def pmix2(a: Column, b: Column): Column = {
    val p = 2147483647L // 2^31 - 1
    val h1 = pmod(
      pmod(a.cast(LongType), lit(p)) * 16807L +
        pmod(b.cast(LongType), lit(p)) + 12345L, lit(p))
    pmod(h1 * 48271L + 11L, lit(p))
  }

  /** DuckDB twin of [[pmix2]] (same floored-mod normalization; operands
    * forced to BIGINT — DuckDB keeps INT32 arithmetic for INT32 columns
    * and would overflow on `% p + p`). */
  def pmix2Sql(a: String, b: String): String = {
    val p = "2147483647"
    def pm(x: String) = s"((CAST($x AS BIGINT) % $p + $p) % $p)"
    val h1 = pm(s"${pm(a)} * 16807 + ${pm(b)} + 12345")
    pm(s"$h1 * 48271 + 11")
  }

  /** Seeded member of the [[phash]] family, as SQL (seed prefixed into
    * the input — avoids 64-bit modular multiplication overflow
    * entirely). */
  def phashSeededSql(seed: String, x: String): String =
    phashSql(s"CAST($seed AS VARCHAR) || ':' || $x")
}
