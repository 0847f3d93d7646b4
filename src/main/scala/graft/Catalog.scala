package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Table catalog over a directory of parquet files (one file/dir per table).
  *
  * Mirrors the reference's schema reflection (`rdbms_subsetter.py ::
  * Db.__init__` — SQLAlchemy `MetaData.reflect` + `Inspector`): where the
  * reference round-trips the live DB catalog, we read self-describing
  * parquet footers. Schemas stay dynamic (`DataFrame` / runtime
  * `StructType`), matching the reference's reflection-not-declaration
  * model (SURVEY.md §1). PK/FK metadata does not exist in parquet, so it
  * is declared in [[FkGraph]] — the analogue of the reference's
  * `--config` pseudo-constraints.
  *
  * Scale: `spark.read.parquet` reads footers only, in one small
  * schema-inference job per call; the vectorized reader + Catalyst
  * handle column pruning / predicate pushdown per query. Nothing here
  * collects to the driver, and a 100 TB table is just more files behind
  * the same path.
  */
object Catalog {

  /** Tables the driver generates (TESTDATA.md / FIXTURES.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Every driver testdata scale-factor dir (TESTDATA.md): sf0.001
    * (spec fixtures + the flagship smoke), sf0.01 (the DuckDB
    * correctness gate), sf0.1 (bench). Specs that pin CORPUS
    * properties (e.g. the LSH shared-oracle j>=0.8 property) iterate
    * this list, so adding an SF to the ladder fails loudly in
    * scalatest instead of intermittently in an oracle hash compare. */
  val testdataSfDirs: Seq[String] = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** Normalize an events `ts` column whose PHYSICAL (footer-probed)
    * Spark type is `tsType` to µs `TimestampType` — the single
    * definition shared by the batch reader here and the streaming
    * reader ([[graft.streaming.EventStreams.readEvents]]), so batch
    * and stream can never diverge on event-time type when the fixture
    * regenerates at a different timestamp unit. The three legal inputs:
    *
    *  - `LongType`: the fixture is INT64 TIMESTAMP(NANOS), which
    *    Spark 4 rejects outright ([PARQUET_TYPE_ILLEGAL]) unless the
    *    session was built with `spark.sql.legacy.parquet.nanosAsLong=
    *    true` (see [[GraftSession.local]] — a conf set HERE would be a
    *    hidden session mutation on every load); the raw nanosecond
    *    long normalizes with exact integer division (`div`, not `/` —
    *    double division would round the 19-digit nanos). Sub-µs digits
    *    are dropped; all engine comparisons/outputs on event time use
    *    whole seconds (queries.Det.epochS), and floor(ns→µs→s) ==
    *    floor(ns→s), so oracle semantics are unaffected.
    *  - `TimestampNTZType`: TIMESTAMP(MICROS) without tz. The cast to
    *    TimestampType is exact ONLY under a UTC session (the NTZ
    *    wall-clock IS the epoch instant); any other zone would
    *    silently shift every event, so a non-UTC session fails loudly
    *    here instead.
    *  - `TimestampType`: already µs with-local-tz — pass through.
    *
    * Anything else (StringType from a malformed fixture, …) throws at
    * the probe site instead of surfacing later as a confusing
    * window/watermark analysis error. */
  def normalizeTs(df: DataFrame, tsType: DataType): DataFrame = tsType match {
    case LongType =>
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType =>
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"events.ts is TIMESTAMP_NTZ: the NTZ->TIMESTAMP cast is only " +
          s"exact under a UTC session, but spark.sql.session.timeZone=$tz")
      df.withColumn("ts", col("ts").cast(TimestampType))
    case TimestampType => df
    case other => throw new IllegalStateException(
      s"events.ts probed as unsupported type $other — expected LongType " +
        "(TIMESTAMP(NANOS) under nanosAsLong), TIMESTAMP_NTZ, or TIMESTAMP")
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = name match {
    case "events" =>
      // ts normalized to µs TimestampType whatever unit the fixture
      // was generated at — see [[normalizeTs]] for the unit cases.
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      normalizeTs(raw, raw.schema("ts").dataType)
    case _ =>
      spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Load every table; lazy plans only — no IO beyond footers. */
  def load(spark: SparkSession, dir: String): Map[String, DataFrame] =
    tableNames.map(n => n -> table(spark, dir, n)).toMap

  /** Register all tables as temp views so `spark.sql` works against the
    * same data the DataFrame API sees. */
  def registerViews(spark: SparkSession, dir: String): Unit =
    tableNames.foreach(n => table(spark, dir, n).createOrReplaceTempView(n))

  /** Cheap change-detection signature of one table's parquet dir:
    * sorted (name, length, mtime) of the leaf files — driver-local
    * metadata listing, no data read. The cache key every
    * once-per-session memo (bigram LM, brute top-k) uses so a fixture
    * regenerated within one JVM session recomputes instead of serving
    * stale results against fresh files. */
  def dirFingerprint(dir: String, tableName: String): String = {
    val root = new java.io.File(dir, s"$tableName.parquet")
    def leaves(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(leaves)
      else Seq(f)
    leaves(root).map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .sorted.mkString(",")
  }
}

/** Canonical local session for the graft mains (Verify/Bench/SubsetCli):
  * parallelism from SPARK_GRAFT_CPUS, shuffle partitions sized to match
  * (not the 200 default), UTC, no UI — and the
  * `parquet.nanosAsLong` legacy flag the events table needs, set at
  * CONSTRUCTION so [[Catalog.table]] never mutates session conf. */
object GraftSession {
  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      // Scan split size caps SCAN-STAGE parallelism, and the scan stage
      // is where this engine does most of its work (scan-local gates,
      // digests, kernels, partial aggs all ride it). The 128 MB default
      // gave the sf10 rung's single-file tables 4-6 partitions on 32
      // cores — one task ground a partial agg for 10+ minutes while the
      // rest idled. 2 MB is the session-construction FALLBACK only: the
      // mains (Bench/Verify/SubsetCli) immediately re-derive the value
      // from their data dir's parquet footers via
      // Sources.calibrateScanSplit (compression-ratio-scaled — r12
      // VERDICT item 5), which also RAISES it ~3x for low-compression
      // relational-only dirs (the r12 ADVICE scheduler-overhead note).
      // Env override wins everywhere. Files under the value (every
      // sf0.01 table) are one split either way.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "2m"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // managed tables (the bucketed capability sinks) land under
      // target/ with the other run artifacts, not in a cwd-level
      // spark-warehouse directory
      .config("spark.sql.warehouse.dir",
        new java.io.File("target/spark-warehouse").getAbsolutePath)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
