package graft

import graft.streaming.EventStreams
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

import java.nio.file.{Files, Paths}
import java.time.LocalDateTime
import java.time.ZoneOffset

/** Fixture-drift pin for the events `ts` timestamp unit (VERDICT r9
  * "What's missing" #2): the driver's events fixture has shipped as
  * INT64 TIMESTAMP(NANOS) (reads as a raw Long under the
  * `nanosAsLong` legacy flag) in some rounds and TIMESTAMP(MICROS)
  * NTZ in others, and round 8 showed what an un-probed unit
  * assumption does — every window lands in January 1970. This spec
  * writes tiny synthetic events fixtures in BOTH units with the SAME
  * logical instants and proves every reader branch windows them
  * identically:
  *
  *  - the TIMESTAMP(NANOS)-annotated file is written with parquet's
  *    own example writer (Spark cannot write NANOS), so the test pins
  *    the REAL production assumption: that annotation reads back as
  *    LongType under the legacy flag and takes the ns→µs division;
  *  - the MICROS file round-trips through Spark's NTZ writer and
  *    takes the NTZ→TIMESTAMP cast;
  *  - batch ([[Catalog.table]]) and streaming
  *    ([[EventStreams.readEvents]]) share [[Catalog.normalizeTs]], and
  *    both paths are asserted here on both units — the `case LongType`
  *    branch is live in tests again, not dead code;
  *  - malformed fixtures (string ts) and non-UTC sessions fail loudly
  *    at the probe site, not as a downstream watermark error.
  */
class TsUnitSpec extends SparkSpecBase {

  /** (event_id, epoch µs, sub-µs ns remainder, user, type, value):
    * instants span three distinct hours so tumbling windows are
    * non-trivial; nonzero ns remainders prove floor(ns→µs) — the two
    * units agree ONLY if the division truncates correctly. */
  private val base = 1700000000L // 2023-11-14T22:13:20Z
  private val rows = Seq(
    (1L, (base + 10L) * 1000000L + 17L, 999L, 7L, "view", 1.0),
    (2L, (base + 20L) * 1000000L + 0L, 1L, 7L, "click", 2.0),
    (3L, (base + 3600L) * 1000000L + 123L, 457L, 8L, "view", 3.0),
    (4L, (base + 3700L) * 1000000L + 999999L, 999L, 8L, "view", 4.0),
    (5L, (base + 7300L) * 1000000L + 5L, 0L, 9L, "purchase", 5.0))

  /** Write `$dir/events.parquet` as a single file annotated INT64
    * TIMESTAMP(NANOS, adjustedToUTC) via parquet-java's example
    * writer — the writer Spark itself lacks. */
  private def writeNanosFixture(dir: String): Unit = {
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64)
      .as(LogicalTypeAnnotation.timestampType(true, TimeUnit.NANOS))
      .named("ts")
      .required(INT64).named("user_id")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("event_type")
      .required(DOUBLE).named("value")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(new HPath(s"$dir/events.parquet"))
      .withConf(conf)
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { case (id, us, nsRem, user, typ, v) =>
      val g = f.newGroup()
      g.append("event_id", id)
      g.append("ts", us * 1000L + nsRem)
      g.append("user_id", user)
      g.append("event_type", typ)
      g.append("value", v)
      g.append("props", "{}")
      writer.write(g)
    } finally writer.close()
  }

  /** Write `$dir/events.parquet` as a single TIMESTAMP(MICROS) NTZ
    * file: LocalDateTime encodes as TimestampNTZType, Spark writes it
    * as annotated µs; the single part file is renamed to the fixture
    * layout (one FILE named events.parquet, like the driver's). */
  private def writeMicrosFixture(dir: String): Unit = {
    import spark.implicits._
    val df = rows.map { case (id, us, _, user, typ, v) =>
      (id, LocalDateTime.ofEpochSecond(us / 1000000L, (us % 1000000L).toInt * 1000,
        ZoneOffset.UTC), user, typ, v, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(df.schema("ts").dataType == TimestampNTZType)
    val tmp = s"$dir/_tmp_events"
    df.coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(p => p.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$dir/events.parquet"))
  }

  private lazy val nanosDir = {
    val d = tempDir("graft-ts-nanos").toString
    writeNanosFixture(d); d
  }
  private lazy val microsDir = {
    val d = tempDir("graft-ts-micros").toString
    writeMicrosFixture(d); d
  }

  private def batchWindows(dir: String): Set[(Long, String, Long)] =
    Catalog.table(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_timestamp(col("window.start")).as("h"), col("event_type"), col("cnt"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

  private def streamWindows(dir: String, name: String): Set[(Long, String, Long)] = {
    EventStreams.startTumblingToMemory(spark, dir, name).awaitTermination()
    spark.sql(s"SELECT hour_start_s, event_type, cnt FROM $name")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
  }

  // what the five instants MUST window to, derived by hand from `rows`
  private val expected = Set(
    ((base + 10) / 3600 * 3600, "view", 1L),
    ((base + 10) / 3600 * 3600, "click", 1L),
    ((base + 3600) / 3600 * 3600, "view", 2L),
    ((base + 7300) / 3600 * 3600, "purchase", 1L))

  test("nanos fixture reads as raw Long under the legacy flag (the probe's premise)") {
    assert(spark.read.parquet(s"$nanosDir/events.parquet")
      .schema("ts").dataType == LongType)
    assert(spark.read.parquet(s"$microsDir/events.parquet")
      .schema("ts").dataType == TimestampNTZType)
  }

  test("batch Catalog.table windows nanos and micros fixtures identically") {
    val n = batchWindows(nanosDir)
    val m = batchWindows(microsDir)
    assert(n == expected)
    assert(m == expected)
    // both normalize to the same Spark type, not just the same values
    assert(Catalog.table(spark, nanosDir, "events").schema("ts").dataType == TimestampType)
    assert(Catalog.table(spark, microsDir, "events").schema("ts").dataType == TimestampType)
  }

  test("streaming readEvents windows nanos and micros fixtures identically") {
    assert(streamWindows(nanosDir, "ts_unit_nanos") == expected)
    assert(streamWindows(microsDir, "ts_unit_micros") == expected)
  }

  test("sub-µs digits floor, never round: ns and µs agree on exact micros") {
    // row 4 carries .999999µs + 999ns — rounding ns→µs would bump it
    val ns = Catalog.table(spark, nanosDir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val us = Catalog.table(spark, microsDir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(ns == us)
    assert(ns(4L) == (base + 3700L) * 1000000L + 999999L)
  }

  test("malformed fixture (string ts) fails loudly at the probe site") {
    import spark.implicits._
    val d = tempDir("graft-ts-bad").toString
    val tmp = s"$d/_tmp"
    Seq((1L, "not-a-timestamp", 7L, "view", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).toArray.map(_.toString)
      .filter(_.endsWith(".parquet")).head
    Files.move(Paths.get(part), Paths.get(s"$d/events.parquet"))
    val e = intercept[IllegalStateException] {
      Catalog.table(spark, d, "events")
    }
    assert(e.getMessage.contains("StringType"))
  }

  test("NTZ fixture under a non-UTC session fails loudly instead of shifting") {
    val tzKey = "spark.sql.session.timeZone"
    val saved = spark.conf.get(tzKey)
    try {
      spark.conf.set(tzKey, "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Catalog.table(spark, microsDir, "events")
      }
      assert(e.getMessage.contains("America/New_York"))
    } finally spark.conf.set(tzKey, saved)
  }

  test("readEvents on a not-yet-landed directory still constructs (live-arrival)") {
    val empty = tempDir("graft-ts-empty").toString
    val df = EventStreams.readEvents(spark, empty)
    assert(df.isStreaming)
    assert(df.schema("ts").dataType == TimestampType)
  }

  test("NANOS file landing AFTER empty-dir construction fails loudly (r10 unit hole)") {
    // Construct on an empty landing dir (probe defaults to µs), THEN
    // land a TIMESTAMP(NANOS) file: the declared µs schema meets a
    // nanos column. The pinned behavior must be a LOUD streaming
    // failure, never silently-wrong windows (a nanos long read as µs
    // would put every event ~50,000 years in the future).
    val d = tempDir("graft-ts-late-nanos").toString
    val df = EventStreams.readEvents(spark, d)
    writeNanosFixture(d)
    val q = EventStreams.tumblingCounts(df)
      .writeStream.format("memory").queryName("ts_unit_late_nanos")
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete())
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.awaitTermination()
    }
    // the root failure is the parquet type mismatch, surfaced by the
    // reader — assert the cause chain mentions the conversion problem
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10)
        .map(x => s"${x.getClass.getName}: ${x.getMessage}").toSeq
    val msgs = chain(e).mkString("\n").toLowerCase
    assert(msgs.contains("parquet") || msgs.contains("convert") ||
      msgs.contains("schema"), s"expected a parquet schema failure, got:\n$msgs")
    // and nothing was emitted as data
    assert(spark.sql("SELECT * FROM ts_unit_late_nanos").isEmpty)
  }

  test("a probe-time analysis failure is rethrown, not defaulted (narrowed catch)") {
    // a garbage non-parquet file named events.parquet must fail
    // readEvents construction loudly — only PATH_NOT_FOUND /
    // UNABLE_TO_INFER_SCHEMA take the live-arrival µs default
    val d = tempDir("graft-ts-garbage").toString
    Files.write(Paths.get(s"$d/events.parquet"),
      "this is not a parquet file".getBytes("UTF-8"))
    intercept[Exception] {
      EventStreams.readEvents(spark, d)
    }
  }
}
