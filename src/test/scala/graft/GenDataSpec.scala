package graft

import java.util.TimeZone

import org.apache.spark.sql.DataFrame

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

  /** sha256 of `df`'s schema and its decoded rows in generation order
    * (timestamps as UTC instants, so the digest is zone-free). */
  private def digest(df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(df.schema.toDDL.getBytes("UTF-8"))
    df.collect().foreach { r =>
      val line = r.toSeq.map {
        case t: java.sql.Timestamp => t.toInstant.toString
        case v => String.valueOf(v)
      }.mkString("\u0001", "\u0002", "\n")
      md.update(line.getBytes("UTF-8"))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  test("GenData's default tables decode to the pinned rows") {
    // 5001 documents: eight clones (i % 625 == 624) and the first
    // vocabulary widening (f = 2); the other sizes keep every key
    // domain small enough that each value is drawn many times
    val got = Map(
      "documents" -> digest(GenData.documents(spark, 5001L)),
      "events" -> digest(GenData.events(spark, 2000L, 30L)),
      "lineitem" -> digest(GenData.lineitem(spark, 300L, 400L, 200L)),
      "orders" -> digest(GenData.orders(spark, 300L, 300L)))
    assert(got == Map(
      "documents" ->
        "0a6e52f3d9e98c265df72aad1ffb90919b8d1e53318cd662627fff49e387b3fb",
      "events" ->
        "f6d7caa51260b4bdb23ca613724b5eb527515ebe6fd04a16f6d090081470ed5a",
      "lineitem" ->
        "7a1620ae35609524902e272bf7f2270577050c3323b34212d5af7aca4347657c",
      "orders" ->
        "6e4b54cff27ea52c68ae8f8b6e2a8dc7d04baa7d71eaf429290509d6e05ef1b9"))
  }
}
