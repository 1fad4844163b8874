package graft

import java.util.TimeZone

class GenDataSpec extends SparkSuite {
  test("GenData.events stamps the same instants in every JVM default zone") {
    def firstTsUnder(zone: String): Long = {
      val saved = TimeZone.getDefault
      TimeZone.setDefault(TimeZone.getTimeZone(zone))
      try GenData.events(spark, 1L, 1L).selectExpr("unix_micros(ts)")
        .head().getLong(0)
      finally TimeZone.setDefault(saved)
    }
    val utc = firstTsUnder("UTC")
    assert(utc >= java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L)
    assert(firstTsUnder("Asia/Tokyo") == utc)
    assert(firstTsUnder("America/Los_Angeles") == utc)
  }
}
