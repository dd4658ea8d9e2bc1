package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator for the ten corpus tables the engine's queries read
  * (region … lineitem, events, documents, embeddings).
  *
  * The benchmark may read only its own checkout, so it cannot use an
  * external fixture corpus; it writes one here instead. Schemas, physical
  * types (timestamp columns are TIMESTAMP_NTZ micros) and layout (one
  * parquet file with one row group per table) follow the fixture corpus the
  * engine is tested on, and so do the value distributions: uniform keys and
  * categories, exponential event gaps, 30-word documents of 10-100 words of
  * which 5% are a copy of another document plus " dup", and unit-norm
  * Gaussian 64-d embeddings with 10 labels.
  *
  * Sizes are TPC-H-style: `sf` scales the TPC-H tables and events, while the
  * text and vector tables have their own row counts.
  */
final case class CorpusSpec(name: String, sf: Double, documents: Int, embeddings: Int) {
  def rows(base: Long): Int = math.max(1L, math.round(base * sf)).toInt
}

object Corpus {
  /** The corpus seed. Fixed: the expected checksums in expected.json are
    * per corpus, and the workload seed only permutes order and makes the
    * ETL inputs.
    */
  val Seed = 42L

  val Specs: Map[String, CorpusSpec] = Seq(
    CorpusSpec("bench", sf = 0.01, documents = 1000, embeddings = 1000),
    CorpusSpec("tiny", sf = 0.001, documents = 500, embeddings = 500),
  ).map(s => s.name -> s).toMap

  private val Words = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Adjectives = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")

  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))
  private def day(r: SplittableRandom, from: LocalDate, to: LocalDate): LocalDateTime =
    from.plusDays(r.nextLong(to.toEpochDay - from.toEpochDay + 1)).atStartOfDay()

  /** Write every table of `spec` under `dir` (one `<table>.parquet` file
    * each). `dir` must not exist yet; the caller publishes it atomically.
    */
  def write(spark: SparkSession, spec: CorpusSpec, dir: Path): Unit = {
    Files.createDirectories(dir)
    // One independent stream per table: a change to one table's generator
    // leaves the others' rows unchanged.
    val seeds = new SplittableRandom(Seed)
    def rng() = seeds.split()

    def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      val staging = dir.resolve(s"_$name")
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(staging.toString)
      val part = Files.list(staging).filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().get()
      Files.move(part, dir.resolve(s"$name.parquet"), StandardCopyOption.ATOMIC_MOVE)
      deleteTree(staging)
    }
    def field(n: String, t: DataType) = StructField(n, t, nullable = true)

    save("region", StructType(Seq(field("r_regionkey", IntegerType), field("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    save("nation", StructType(Seq(field("n_nationkey", IntegerType), field("n_name", StringType),
        field("n_regionkey", IntegerType))),
      (0 until 25).map(k => Row(k, s"NATION_$k", k % 5)))

    val nCust = spec.rows(150000)
    val r1 = rng()
    save("customer", StructType(Seq(field("c_custkey", LongType), field("c_name", StringType),
        field("c_nationkey", IntegerType), field("c_acctbal", DoubleType),
        field("c_mktsegment", StringType))),
      (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", r1.nextInt(25),
        cents(r1, -999.99, 9999.99), pick(r1, Segments))))

    val nSupp = spec.rows(10000)
    val r2 = rng()
    save("supplier", StructType(Seq(field("s_suppkey", LongType), field("s_name", StringType),
        field("s_nationkey", IntegerType), field("s_acctbal", DoubleType))),
      (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", r2.nextInt(25),
        cents(r2, -999.99, 9999.99))))

    val nPart = spec.rows(200000)
    val r3 = rng()
    save("part", StructType(Seq(field("p_partkey", LongType), field("p_name", StringType),
        field("p_brand", StringType), field("p_type", StringType), field("p_size", IntegerType),
        field("p_retailprice", DoubleType))),
      (0 until nPart).map(k => Row(k.toLong, s"${pick(r3, Adjectives)} ${pick(r3, Nouns)}",
        s"Brand#${1 + r3.nextInt(25)}", pick(r3, PartTypes), 1 + r3.nextInt(50),
        math.round(9000 + k % 1000) / 10.0)))

    val nOrders = spec.rows(1500000)
    val r4 = rng()
    save("orders", StructType(Seq(field("o_orderkey", LongType), field("o_custkey", LongType),
        field("o_orderstatus", StringType), field("o_totalprice", DoubleType),
        field("o_orderdate", TimestampNTZType), field("o_orderpriority", StringType))),
      (0 until nOrders).map(k => Row(k.toLong, r4.nextLong(nCust), pick(r4, Array("F", "O", "P")),
        cents(r4, 1000, 500000), day(r4, LocalDate.of(1995, 1, 1), LocalDate.of(2001, 8, 1)),
        pick(r4, Priorities))))

    val r5 = rng()
    save("lineitem", StructType(Seq(field("l_orderkey", LongType), field("l_partkey", LongType),
        field("l_suppkey", LongType), field("l_linenumber", IntegerType),
        field("l_quantity", DoubleType), field("l_extendedprice", DoubleType),
        field("l_discount", DoubleType), field("l_tax", DoubleType),
        field("l_returnflag", StringType), field("l_linestatus", StringType),
        field("l_shipdate", TimestampNTZType))),
      (0 until spec.rows(6000000)).map(_ => Row(r5.nextLong(nOrders), r5.nextLong(nPart),
        r5.nextLong(nSupp), 1 + r5.nextInt(7), (1 + r5.nextInt(50)).toDouble,
        cents(r5, 900, 105000), r5.nextInt(11) / 100.0, r5.nextInt(9) / 100.0,
        pick(r5, Array("A", "N", "R")), pick(r5, Array("F", "O")),
        day(r5, LocalDate.of(1995, 1, 2), LocalDate.of(2001, 11, 4)))))

    val nEvents = spec.rows(1000000)
    val nUsers = math.max(1, nCust / 10)
    val r6 = rng()
    val meanGapMicros = 30L * 86400 * 1000000 / nEvents
    var tsMicros = 0L
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    save("events", StructType(Seq(field("event_id", LongType), field("ts", TimestampNTZType),
        field("user_id", LongType), field("event_type", StringType), field("value", DoubleType),
        field("props", StringType))),
      (0 until nEvents).map { k =>
        tsMicros += math.round(-math.log(1 - r6.nextDouble()) * meanGapMicros)
        Row(k.toLong, t0.plusNanos(tsMicros * 1000), r6.nextLong(nUsers), pick(r6, EventTypes),
          math.round(-math.log(1 - r6.nextDouble()) * 5000) / 100.0,
          s"""{"k": ${r6.nextInt(100)}}""")
      })

    val r7 = rng()
    val texts = new Array[String](spec.documents)
    for (k <- texts.indices) {
      texts(k) = Array.fill(10 + r7.nextInt(91))(pick(r7, Words)).mkString(" ")
    }
    // Near-duplicates: 5% of documents become another document + " dup".
    for (k <- texts.indices if r7.nextInt(20) == 0) texts(k) = texts(r7.nextInt(texts.length)) + " dup"
    val langs = Array("de", "es", "fr", "zh")
    save("documents", StructType(Seq(field("doc_id", LongType), field("text", StringType),
        field("lang", StringType), field("source", StringType), field("n_chars", LongType))),
      texts.indices.map { k =>
        val lang = if (r7.nextInt(100) < 41) "en" else pick(r7, langs)
        Row(k.toLong, texts(k), lang, s"src${k % 20}", texts(k).length.toLong)
      })

    val r8 = rng()
    save("embeddings", StructType(Seq(field("vec_id", LongType),
        field("embedding", ArrayType(FloatType, containsNull = true)), field("label", IntegerType))),
      (0 until spec.embeddings).map { k =>
        val v = Array.fill(64)(gaussian(r8))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(k.toLong, v.map(x => (x / norm).toFloat).toSeq, r8.nextInt(10))
      })
  }

  private def gaussian(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}
