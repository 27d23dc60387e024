package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.queries.{AggWindowQueries, EventQueries}

/** Round-9 decode-drift guard: the round-8 incident showed the oracle
  * gates were the ONLY check exercising the events decode layer — every
  * suite test built its frames inline, so a loader that compressed
  * timestamps 1000× sailed through `sbt test` green. These tests run the
  * actual GATED queries (through `Tables.load`) against a fixture events
  * table with hand-computed absolute expectations, so a decode
  * regression fails the suite, not just the driver's round gate. */
class EventsEraSpec extends SparkSpec {
  import spark.implicits._

  // 2024-05-01T00:00:00Z; timestamps built from epoch millis so the
  // expectations are TZ-independent (session TZ is UTC)
  private val base = 1714521600L * 1000L
  private def at(h: Int, m: Int) =
    new Timestamp(base + (h * 3600L + m * 60L) * 1000L)

  // made per use: each test's scratch is deleted when the test ends
  private def fixtureDir: String = {
    val dir = graft.core.Scratch.dir("graft-era")
    Seq(
      // user 1: click 10:00, purchase 10:15 (same session, asof → the
      // click), click 11:30 (75-min gap → new session)
      (1L, at(10, 0), 1L, "click", 1.0, "{}"),
      (2L, at(10, 15), 1L, "purchase", 20.0, "{}"),
      (3L, at(11, 30), 1L, "click", 3.0, "{}"),
      // user 2: purchase with no preceding click → asof null
      (4L, at(9, 0), 2L, "purchase", 5.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def fmt(c: String) = date_format(col(c), "yyyy-MM-dd HH:mm:ss")

  test("ev01_hourly_agg on the fixture: absolute hours and totals") {
    val got = EventQueries.queries("ev01_hourly_agg")(spark, fixtureDir)
      .select(col("event_type"), fmt("hour"), col("n"), col("total"))
      .as[(String, String, Long, Double)].collect().toSeq
    assert(got == Seq(
      ("click", "2024-05-01 10:00:00", 1L, 1.0),
      ("click", "2024-05-01 11:00:00", 1L, 3.0),
      ("purchase", "2024-05-01 09:00:00", 1L, 5.0),
      ("purchase", "2024-05-01 10:00:00", 1L, 20.0)))
  }

  test("ev02_sessionize on the fixture: the 75-min gap opens session 2") {
    val got = EventQueries.queries("ev02_sessionize")(spark, fixtureDir)
      .select(col("user_id"), col("event_id"), col("session_id"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 1L, 1L), (1L, 2L, 1L), (1L, 3L, 2L),
                      (2L, 4L, 1L)))
  }

  test("ev03_asof_join on the fixture: purchase attaches the preceding " +
       "click, purchase without one attaches null") {
    val got = EventQueries.queries("ev03_asof_join")(spark, fixtureDir)
      .select(col("event_id"), fmt("asof_ts"), col("asof_value"))
      .as[(Long, Option[String], Option[Double])].collect().toSeq
    assert(got == Seq(
      (2L, Some("2024-05-01 10:00:00"), Some(1.0)),
      (4L, None, None)))
  }

  test("w06_rolling_sum on the fixture: absolute rolling sums") {
    val got = AggWindowQueries.queries("w06_rolling_sum")(spark, fixtureDir)
      .select(col("user_id"), col("event_id"), col("roll_sum"),
              col("roll_n"))
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 1.0, 1L), (1L, 2L, 21.0, 2L), (1L, 3L, 24.0, 3L),
      (2L, 4L, 5.0, 1L)))
  }
}
