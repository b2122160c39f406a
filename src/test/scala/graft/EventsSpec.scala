package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.Events

class EventsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val tiny = Seq(
    (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, """{"k": 1}"""),
    (2L, ts("2024-01-01 10:10:00"), 1L, "view", 2.0, """{"k": 2}"""),
    // 40-min gap -> new session for user 1
    (3L, ts("2024-01-01 10:50:00"), 1L, "click", 3.0, """{"k": 3}"""),
    (4L, ts("2024-01-01 10:05:00"), 2L, "click", 4.0, """{"k": 4}""")
  ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("sessionize splits on gap > 30min and aggregates per session") {
    val s = Events.sessionize(tiny, gapSec = 1800)
      .select("user_id", "session_id", "n_events", "total_value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(s == Set((1L, 1L, 2L, 3.0), (1L, 2L, 1L, 3.0), (2L, 1L, 1L, 4.0)))
  }

  test("sessionize boundary: gap of exactly gapSec stays in the session") {
    val b = Seq(
      (1L, ts("2024-01-01 10:00:00"), 9L, "click", 1.0, "{}"),
      (2L, ts("2024-01-01 10:30:00"), 9L, "click", 1.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    assert(Events.sessionize(b, gapSec = 1800).count() == 1)
  }

  test("hourly window buckets by hour start") {
    val w = Events.hourlyWindow(tiny)
      .select("window_start", "event_type", "n_events")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(w == Set(
      (ts("2024-01-01 10:00:00"), "click", 3L),
      (ts("2024-01-01 10:00:00"), "view", 1L)))
  }

  test("json extraction sums the extracted metric per user") {
    val j = Events.jsonTopUsers(tiny, 10)
      .select("user_id", "total_k").as[(Long, Long)].collect().toMap
    assert(j == Map(1L -> 6L, 2L -> 4L))
  }

  test("range agg filters by time and type") {
    val r = Events.rangeAgg(tiny, "2024-01-01 10:00:00", "2024-01-01 10:30:00",
        Seq("click")).select("event_type", "n_events", "sum_value")
      .as[(String, Long, Double)].collect()
    assert(r.toSeq == Seq(("click", 2L, 5.0)))
  }

  test("asOfJoin: <= boundary matches, earlier-left rows get nulls") {
    val left = Seq(
      (10L, ts("2024-01-01 09:00:00"), 1L, "p", 0.0, "{}"), // before any right
      (11L, ts("2024-01-01 10:00:00"), 1L, "p", 0.0, "{}"), // equal-ts match
      (12L, ts("2024-01-01 11:30:00"), 1L, "p", 0.0, "{}")  // later match
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val right = Seq(
      (20L, ts("2024-01-01 10:00:00"), 1L, "e", 0.0, "{}"),
      (21L, ts("2024-01-01 11:00:00"), 1L, "e", 0.0, "{}")
    ).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val r = Events.asOfJoin(left, right, "user_id", "ts", "event_id")
      .select("event_id", "r_id").as[(Long, Option[Long])].collect().toMap
    assert(r(10L).isEmpty, "no right row at or before 09:00")
    assert(r(11L).contains(20L), "equal ts must match (<= semantics)")
    assert(r(12L).contains(21L))
  }

  test("events loader reads nanos timestamps from the fixture") {
    val e = Events.load(spark, sf001)
    assert(e.schema("ts").dataType.typeName == "timestamp")
    assert(e.count() > 0)
  }

  test("normalizeTs lands both fixture encodings on the same UTC instant") {
    import spark.implicits._
    // 2024-01-01T10:00:00Z
    val epochMs = 1704103200000L
    val dir = tempDir("graft_ts_enc").toString
    // encoding 1: TIMESTAMP(NANOS) surfaces as LONG nanos under the legacy conf
    Seq((1L, epochMs * 1000000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/nanos")
    // encoding 2: timestamp[us] without timezone surfaces as TIMESTAMP_NTZ
    spark.sql("SELECT 1L AS event_id, TIMESTAMP_NTZ '2024-01-01 10:00:00' AS ts")
      .write.mode("overwrite").parquet(s"$dir/ntz")
    for (enc <- Seq("nanos", "ntz")) {
      val df = Events.normalizeTs(spark.read.parquet(s"$dir/$enc"))
      assert(df.schema("ts").dataType.typeName == "timestamp", s"$enc type")
      val got = df.select("ts").as[java.sql.Timestamp].head()
      assert(got.getTime == epochMs, s"$enc instant: $got")
    }
  }
}
