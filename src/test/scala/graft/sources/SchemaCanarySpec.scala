package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Schema-drift canary — run this FIRST when anything smells wrong.
  *
  * The driver regenerates /root/testdata between rounds and has already
  * changed a physical encoding once (events.ts: TIMESTAMP(NANOS) →
  * TIMESTAMP_NTZ micros, which silently dropped 16 queries from the r6
  * correctness artifact). This suite turns that failure mode into a named
  * 2-second test: it opens every table at every sf dir (footer-only — a
  * .schema read plans no Spark job over the data) and asserts the column
  * names/types the rest of the library assumes.
  */
class SchemaCanarySpec extends AnyFunSuite {
  lazy val spark = graft.Sessions.local("4", "graft-canary-test")
  val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  /** name → (column → acceptable types). Timestamp columns accept both
    * TimestampType and TimestampNTZType: the session reads NTZ parquet as
    * NTZ, and Tables normalizes where the distinction matters. */
  val expected: Map[String, Map[String, Set[DataType]]] = {
    val ts: Set[DataType] = Set(TimestampType, TimestampNTZType)
    def t(x: DataType): Set[DataType] = Set(x)
    Map(
      "region" -> Map("r_regionkey" -> t(IntegerType), "r_name" -> t(StringType)),
      "nation" -> Map("n_nationkey" -> t(IntegerType), "n_name" -> t(StringType),
        "n_regionkey" -> t(IntegerType)),
      "customer" -> Map("c_custkey" -> t(LongType), "c_name" -> t(StringType),
        "c_nationkey" -> t(IntegerType), "c_acctbal" -> t(DoubleType),
        "c_mktsegment" -> t(StringType)),
      "supplier" -> Map("s_suppkey" -> t(LongType), "s_name" -> t(StringType),
        "s_nationkey" -> t(IntegerType), "s_acctbal" -> t(DoubleType)),
      "part" -> Map("p_partkey" -> t(LongType), "p_name" -> t(StringType),
        "p_brand" -> t(StringType), "p_type" -> t(StringType),
        "p_size" -> t(IntegerType), "p_retailprice" -> t(DoubleType)),
      "orders" -> Map("o_orderkey" -> t(LongType), "o_custkey" -> t(LongType),
        "o_orderstatus" -> t(StringType), "o_totalprice" -> t(DoubleType),
        "o_orderdate" -> ts, "o_orderpriority" -> t(StringType)),
      "lineitem" -> Map("l_orderkey" -> t(LongType), "l_partkey" -> t(LongType),
        "l_suppkey" -> t(LongType), "l_linenumber" -> t(IntegerType),
        "l_quantity" -> t(DoubleType), "l_extendedprice" -> t(DoubleType),
        "l_discount" -> t(DoubleType), "l_tax" -> t(DoubleType),
        "l_returnflag" -> t(StringType), "l_linestatus" -> t(StringType),
        "l_shipdate" -> ts),
      "events" -> Map("event_id" -> t(LongType), "ts" -> ts,
        "user_id" -> t(LongType), "event_type" -> t(StringType),
        "value" -> t(DoubleType), "props" -> t(StringType)),
      "documents" -> Map("doc_id" -> t(LongType), "text" -> t(StringType),
        "lang" -> t(StringType), "source" -> t(StringType), "n_chars" -> t(LongType)),
      "embeddings" -> Map("vec_id" -> t(LongType),
        "embedding" -> Set[DataType](ArrayType(FloatType, true), ArrayType(FloatType, false)),
        "label" -> t(IntegerType))
    )
  }

  test("every table at every sf dir carries the assumed columns and types") {
    for (dir <- sfDirs; (name, cols) <- expected) {
      val schema = Tables.table(spark, dir, name).schema
      val byName = schema.fields.map(f => f.name -> f.dataType).toMap
      for ((c, ok) <- cols) {
        assert(byName.contains(c), s"$dir/$name: missing column '$c' (has ${byName.keys.mkString(",")})")
        assert(ok.contains(byName(c)),
          s"$dir/$name.$c: unexpected type ${byName(c)} (accepted: ${ok.mkString("|")})")
      }
    }
  }

  test("Tables.events normalizes to the ts/ts_ns contract at every sf dir") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts").dataType == TimestampType, s"$dir: ts is ${ev.schema("ts").dataType}")
      assert(ev.schema("ts_ns").dataType == LongType, s"$dir: ts_ns is ${ev.schema("ts_ns").dataType}")
    }
  }

  test("Tables.events yields the written instants and nano-epochs from TIMESTAMP_NTZ micros") {
    val base = java.nio.file.Files.createTempDirectory("ev-enc").toString
    val micros = Seq(1704067200000000L, 1704070800123456L, 1704074400999999L)
    val rows = micros.zipWithIndex.map { case (us, i) => (i.toLong, us, i.toLong % 2, "click", 1.0, "{}") }
    import spark.implicits._
    val df = rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
    df.withColumn("ts", timestamp_micros(col("us")).cast("timestamp_ntz")).drop("us")
      .write.mode("overwrite").parquet(s"$base/ntz/events.parquet")
    val b = Tables.events(spark, s"$base/ntz")
      .select("event_id", "ts", "ts_ns").orderBy("event_id").collect()
    assert(b.map(_.getTimestamp(1)).toSeq == micros.map(us => java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(us / 1000000L, us % 1000000L * 1000L))))
    assert(b.map(_.getLong(2)).toSeq == micros.map(_ * 1000L))
  }

  test("Tables.events fails fast when the session time zone is not UTC") {
    // The NTZ→timestamp cast in Tables.events is value-preserving only
    // under the UTC session pin; a moved pin must be a loud failure, not
    // a silent wall-clock shift of every event (r7 verdict #4).
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val e = intercept[IllegalArgumentException] {
        Tables.events(spark, "/root/testdata/sf0.001")
      }
      assert(e.getMessage.contains("timeZone"))
    } finally spark.conf.set("spark.sql.session.timeZone", before)
  }

  test("session time zone is pinned to UTC") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }
}
