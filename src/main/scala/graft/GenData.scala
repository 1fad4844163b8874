package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic synthetic-data generator for the above-sf0.1 scale
  * rehearsal (judge r12 item #4): reproduces the driver testdata's
  * schemas and distribution SHAPES (vocab, doc-length, dup-rate,
  * label-clustered unit vectors, zero-truncated-Poisson order sizes,
  * exponential event values) at an arbitrary multiple of the sf0.1
  * row counts, so heavy-family timings measured on its output are a
  * faithful read of each operator's scaling exponent.
  *
  * Generation is DISTRIBUTED — `spark.range` partitions feeding pure
  * per-index functions of a splitmix64 hash (no driver-side loops, no
  * RNG state shared across rows), so the generator itself scales to
  * any SF the disk holds. Splitmix, not a raw LCG: successive LCG
  * tuples lie on lattice hyperplanes (mean pairwise cos 0.43 measured
  * in r9) which would fake ANN clusterability; and the 52-bit-mantissa
  * shift (`>>> 12`) keeps uniforms in [0,1) without the +1 DC offset
  * a 53-bit shift leaves on [-1,3).
  *
  * Usage: `runMain graft.GenData <outDir> [mult]` — mult scales the
  * sf0.1 base counts (default 10 = sf1: 6 M lineitem, 1 M events,
  * 50 k documents, 20 k embeddings).
  *
  * NOT part of the query surface — a test/bench utility main, like
  * [[Verify]] and [[Bench]]. Never writes to /root/testdata.
  */
object GenData {
  @inline def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  @inline def u01(h: Long): Double = (h >>> 12).toDouble / (1L << 52).toDouble
  /** Stream of independent uniforms for row `i` in table `tag`. */
  private def us(tag: Long, i: Long): Iterator[Double] = {
    var k = mix(tag * 0x5851F42D4C957F2DL + i)
    Iterator.continually { k = mix(k); u01(k) }
  }

  private val Vocab: Array[String] =
    ("a agg batch big column customer data dup fast filter group hash " +
      "join key line merge order part query row scan slow small sort " +
      "spark stream table the value vector window").split(" ")

  /** Corpus-scaled vocabulary (r15 verdict #5): with the 30-word base
    * vocab fixed, the 3-shingle space is 27 000 — at mult=10 the
    * benchmark doc set (~515 docs × ~54 shingles) covers most of it
    * and decontamination saturates to ZERO survivors, so the 10×
    * corpus-lifecycle rehearsals measured a degenerate manifest.
    * Real corpora obey Heaps' law (vocabulary grows with corpus), so
    * the generator now scales the vocab with n: each base word gains
    * f = ⌈(n/5000)^(1/3)⌉ suffixed variants (shingle space ∝ f³ ∝ n,
    * keeping the benchmark's shingle-space coverage — and hence the
    * survivor fraction — roughly scale-invariant). The two stopwords
    * ("a", "the") get f verbatim COPIES instead, preserving both
    * their surface forms and their per-token draw probability, so
    * the quality funnel's stopword-ratio gate sees the same
    * distribution at every mult. f = 1 (mult ≤ 1) reproduces the
    * original vocab bit-for-bit, so historical mult=1 rehearsal
    * numbers stay comparable. */
  private def vocabFor(nDocs: Long): Array[String] = {
    val f = math.ceil(math.cbrt(nDocs / 5000.0)).toInt.max(1)
    if (f == 1) Vocab
    else Vocab.flatMap { w =>
      if (w == "a" || w == "the") Array.fill(f)(w)
      else w +: Array.tabulate(f - 1)(k => w + ('b' + k % 25).toChar)
    }
  }

  private val Langs = Array("en", "zh", "es", "fr", "de")
  private val EventTypes = Array("signup", "click", "error", "purchase", "view")

  private def docText(i: Long, vocab: Array[String]): String = {
    val u = us(1L, i)
    val n = 10 + (u.next() * 91).toInt
    val sb = new StringBuilder
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(vocab((u.next() * vocab.length).toInt))
      j += 1
    }
    sb.toString
  }

  def documents(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val vocab = vocabFor(n)
    spark.range(n).map { i =>
      // ~1/625 docs clones its predecessor's text: the sf0.1 dup rate
      // (8 exact dups / 5000 docs) the dedup family's timings see.
      val clone = i % 625 == 624
      val text = docText(if (clone) i - 1 else i, vocab)
      val u = us(2L, i)
      val lang =
        if (u.next() < 0.41) "en" else Langs(1 + (u.next() * 4).toInt)
      (i, text, lang, s"src${(i % 20).toInt}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val dim = 64
    // 10 cluster centers on the unit sphere; member = center + noise,
    // re-normalized — matches the testdata's unit norms and gives IVF
    // the label-cluster structure its recall gates assume.
    val centers: Array[Array[Double]] = Array.tabulate(10) { c =>
      val v = Array.tabulate(dim)(d => u01(mix(3L + c * 64L + d)) * 2 - 1)
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    spark.range(n).map { i =>
      val u = us(4L, i)
      val label = (u.next() * 10).toInt
      val c = centers(label)
      val raw = Array.tabulate(dim)(d => c(d) + (u.next() * 2 - 1) * 0.35)
      val nrm = math.sqrt(raw.map(x => x * x).sum)
      (i, raw.map(x => (x / nrm).toFloat), label)
    }.toDF("vec_id", "embedding", "label")
  }

  def events(spark: SparkSession, n: Long, users: Long): DataFrame = {
    import spark.implicits._
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val spanMs = 30L * 86400 * 1000
    spark.range(n).map { i =>
      val u = us(5L, i)
      val ts = new java.sql.Timestamp(t0 + (u.next() * spanMs).toLong)
      val value = math.floor(-50.0 * math.log1p(-u.next()) * 100) / 100
      (i, ts, (u.next() * users).toLong,
        EventTypes((u.next() * 5).toInt), value,
        s"""{"k": ${(u.next() * 100).toInt}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  def lineitem(spark: SparkSession, orders: Long, parts: Long,
      supps: Long): DataFrame = {
    import spark.implicits._
    val day = 86400L * 1000
    val d0 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
    spark.range(orders).flatMap { o =>
      val u = us(6L, o)
      // zero-truncated Poisson(~3.1)+1 ≈ the testdata's order-size
      // histogram (mean 4.07, tail to ~17) via inverse-CDF walk
      val lam = 3.075
      var cdf = math.exp(-lam); var p = cdf; var k = 0
      val r = u.next()
      while (cdf < r && k < 30) { k += 1; p *= lam / k; cdf += p }
      val sz = k + 1
      (1 to sz).map { ln =>
        (o, (u.next() * parts).toLong, (u.next() * supps).toLong, ln,
          (1 + (u.next() * 50).toInt).toDouble,
          math.floor((900 + u.next() * 104100) * 100) / 100,
          math.floor(u.next() * 0.11 * 100) / 100,
          math.floor(u.next() * 0.09 * 100) / 100,
          Array("A", "N", "R").apply((u.next() * 3).toInt),
          Array("O", "F").apply((u.next() * 2).toInt),
          new java.sql.Timestamp(d0 + (u.next() * 2500).toLong * day))
      }
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
  }

  /** The TPC-H-ish star dimensions (schemas + distribution shapes
    * from the driver testdata), so the q-family join shapes rehearse
    * above sf0.1 too. Nation/region are fixed-size reference tables
    * reproduced verbatim-shaped. */
  def orders(spark: SparkSession, n: Long, customers: Long): DataFrame = {
    import spark.implicits._
    val d0 = java.time.Instant.parse("1995-01-01T00:00:00Z").toEpochMilli
    val day = 86400L * 1000
    val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    spark.range(n).map { i =>
      val u = us(7L, i)
      (i, (u.next() * customers).toLong,
        Array("P", "O", "F").apply((u.next() * 3).toInt),
        math.floor((1000 + u.next() * 499000) * 100) / 100,
        new java.sql.Timestamp(d0 + (u.next() * 2404).toLong * day),
        prios((u.next() * 5).toInt))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
  }

  def part(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val adjs = Array("blue", "old", "new", "large", "hot", "red", "small",
      "cold")
    val nouns = Array("widget", "ring", "gear", "anvil", "bolt", "plate",
      "rod", "gizmo")
    val types = Array("ECONOMY", "LARGE", "STANDARD", "MEDIUM", "SMALL",
      "PROMO")
    spark.range(n).map { i =>
      val u = us(8L, i)
      (i, s"${adjs((u.next() * 8).toInt)} ${nouns((u.next() * 8).toInt)}",
        s"Brand#${1 + (u.next() * 25).toInt}",
        types((u.next() * 6).toInt),
        1 + (u.next() * 50).toInt,
        math.floor((900 + u.next() * 99.9) * 100) / 100)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
      "p_retailprice")
  }

  def supplier(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map { i =>
      val u = us(9L, i)
      (i, f"Supplier#$i%09d", (u.next() * 25).toInt,
        math.floor((-1000 + u.next() * 11000) * 100) / 100)
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
  }

  def customer(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val segs = Array("MACHINERY", "HOUSEHOLD", "BUILDING", "FURNITURE",
      "AUTOMOBILE")
    spark.range(n).map { i =>
      val u = us(10L, i)
      (i, f"Customer#$i%09d", (u.next() * 25).toInt,
        math.floor(u.next() * 10000 * 100) / 100,
        segs((u.next() * 5).toInt))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal",
      "c_mktsegment")
  }

  def nation(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val mult = if (args.length > 1) args(1).toLong else 10L
    val spark = Session.local(conf = Map("spark.sql.shuffle.partitions" -> "32"))
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    try {
      write("documents", documents(spark, 5000L * mult).repartition(8))
      write("embeddings", embeddings(spark, 2000L * mult).repartition(8))
      // TIMESTAMP_MICROS, not Spark's INT96 default: Tables.events
      // reads ts through an explicit INT64 schema (the TESTDATA
      // NANOS workaround), and INT96 is not INT64 — an INT96
      // rehearsal dir fails every events-family query with
      // PARQUET_COLUMN_DATA_TYPE_MISMATCH (r17 finding, surfaced by
      // the 10x plan-manifest diff: k4/k7 recorded error entries)
      graft.Util.withConf(spark,
        "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS") {
        write("events", events(spark, 100000L * mult, 1500L * mult)
          .repartition(16))
      }
      write("lineitem", lineitem(spark, 147236L * mult, 20000L * mult,
        10000L * mult).repartition(32))
      // star dimensions: the q-family join shapes rehearse above
      // sf0.1. lineitem's synthetic l_orderkey/l_partkey/l_suppkey
      // domains are [0, 147236m)/[0, 20000m)/[0, 10000m) — orders
      // covers the orderkey domain exactly; part/supplier are sized
      // to the fact's key domains so the joins land.
      write("orders", orders(spark, 147236L * mult, 15000L * mult)
        .repartition(8))
      write("part", part(spark, 20000L * mult).repartition(4))
      write("supplier", supplier(spark, 10000L * mult).repartition(2))
      write("customer", customer(spark, 15000L * mult).repartition(2))
      write("nation", nation(spark).coalesce(1))
      write("region", region(spark).coalesce(1))
      println(s"GENDATA done: $out at ${mult}x sf0.1")
    } finally spark.stop()
  }
}
