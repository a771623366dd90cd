package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Tables.load` must normalize `events.ts` to a µs-precision instant
  * TimestampType for EVERY encoding the driver's testdata generator has
  * produced so far — ns-since-epoch longs (the TIMESTAMP(NANOS) generation,
  * which Spark reads as long under `nanosAsLong`) and plain `timestamp[us]`
  * (read as TIMESTAMP_NTZ). A generator change must be a no-op here, not a
  * round-killer.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-03-01T00:00:01.234567891Z as ns since epoch — sub-µs digits present
  // so the ns→µs truncation is actually exercised.
  private val ns = 1709251201234567891L
  private val usTruncated = Timestamp.from(java.time.Instant.ofEpochSecond(1709251201L, 234567000L))

  private def writeFixture(writer: String => Unit): String = {
    val dir = SparkSpec.tempDir("tables-fixture").toFile
    writer(dir.getAbsolutePath)
    dir.getAbsolutePath
  }

  test("ns-as-long events fixture loads as µs-truncated TimestampType") {
    val sfDir = writeFixture { d =>
      Seq((ns, 1L)).toDF("ts", "event_id")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select($"ts").as[Timestamp].head()
    assert(got == usTruncated, s"expected $usTruncated got $got")
  }

  test("timestamp[us] (NTZ) events fixture loads as TimestampType, exact under UTC") {
    val sfDir = writeFixture { d =>
      // Write with NTZ type explicitly: parquet timestamp[us], isAdjustedToUTC=false
      Seq((java.time.LocalDateTime.ofEpochSecond(1709251201L, 234567000, java.time.ZoneOffset.UTC), 1L))
        .toDF("ts", "event_id")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    // sanity: fixture really round-trips as NTZ before load normalizes it
    assert(spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType == TimestampNTZType)
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.select($"ts").as[Timestamp].head()
    assert(got == usTruncated, s"expected $usTruncated got $got")
  }

  test("instant timestamp events fixture passes through unchanged") {
    val sfDir = writeFixture { d =>
      Seq((usTruncated, 1L)).toDF("ts", "event_id")
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    assert(df.select($"ts").as[Timestamp].head() == usTruncated)
  }

  test("driver testdata schemas match what the query inventory assumes " +
    "(tripwire for the next generator regen — the r6 events lesson)") {
    val sfDir = "/root/testdata/sf0.001"
    def types(name: String): Map[String, DataType] =
      Tables.load(spark, sfDir, name).schema
        .map(f => f.name -> f.dataType).toMap
    // the columns queries/oracles depend on; a regen that shifts any of
    // these dtypes should fail HERE, not as 50 cryptic query errors
    assert(types("events")("ts") == TimestampType)
    assert(types("events")("event_id") == LongType)
    assert(types("events")("user_id") == LongType)
    assert(types("events")("event_type") == StringType)
    assert(types("events")("value") == DoubleType)
    assert(types("events")("props") == StringType)
    assert(types("documents")("doc_id") == LongType)
    assert(types("documents")("text") == StringType)
    assert(types("documents")("lang") == StringType)
    assert(types("documents")("source") == StringType)
    assert(types("embeddings")("vec_id") == LongType)
    assert(types("embeddings")("embedding") == ArrayType(FloatType, containsNull = true))
    assert(types("embeddings")("label") == IntegerType)
    // orders/lineitem date columns are DELIBERATELY left as the parquet
    // encoding (their oracles agree on naive semantics) — pin what it is
    // so a regen to a different encoding is a visible decision, not drift
    assert(types("orders")("o_orderdate") == TimestampNTZType)
    assert(types("lineitem")("l_shipdate") == TimestampNTZType)
    assert(types("lineitem")("l_quantity") == DoubleType)
    assert(types("lineitem")("l_extendedprice") == DoubleType)
  }

  test("driver testdata events loads and is analyzable end-to-end") {
    val sfDir = "/root/testdata/sf0.001"
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType == TimestampType)
    // the exact expression shape that died in round 6: any ts arithmetic
    val n = df.select(unix_micros($"ts")).filter($"unix_micros(ts)".isNotNull).limit(1).count()
    assert(n == 1)
  }
}
