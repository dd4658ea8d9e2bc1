package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.Validation
import graft.pipeline.ReferencePipeline
import graft.sinks.{SheetsShaped, Sinks}

/** What one operation's action produced: the row count and an
  * order-independent digest of every output column, or for the ETL chain
  * the rows it wrote. `error` is set when the output is wrong.
  */
final case class Outcome(rows: Long, digest: String, error: Option[String] = None)

/** One timed operation: `build` calls into the engine and returns the plan
  * to run; `act` runs it, reading every output column. `check`, untimed,
  * compares what `act` returned with the expectation.
  */
trait Op {
  def name: String
  def build(spark: SparkSession): DataFrame
  def act(df: DataFrame): Outcome
  def check(out: Outcome): Outcome
}

/** A catalog query: `SparkEntry.queries(name)(spark, corpus)`, consumed by
  * [[Digest]] and compared with the recorded expectation (absent while
  * recording).
  */
final class CatalogOp(val name: String, corpus: String, expected: Option[Outcome]) extends Op {
  private val query = SparkEntry.queries.getOrElse(name, sys.error(s"unknown catalog query $name"))
  def build(spark: SparkSession): DataFrame = query(spark, corpus)
  def act(df: DataFrame): Outcome = {
    val (rows, digest) = Digest.of(df)
    Outcome(rows, digest)
  }
  def check(out: Outcome): Outcome = out.copy(error = expected.collect {
    case e if e.rows != out.rows || e.digest != out.digest =>
      s"expected rows=${e.rows} digest=${e.digest}, got rows=${out.rows} digest=${out.digest}"
  })
}

/** The weekly reference ETL chain over seeded reference-shaped inputs:
  * paginated lists → [[ReferencePipeline.buildPeople]] → actual counts →
  * [[Validation.validateCounts]] against the generator's counts →
  * [[ReferencePipeline.applyCsvFormat]] → [[Sinks.writeCsvRenamed]] plus a
  * [[SheetsShaped.upload]] of the verdict tab. `build` returns the CSV-bound
  * frame (what is planned), `act` writes both sinks and `check` reads the
  * files back.
  */
final class EtlWeekly(inputs: EtlInputs, outDir: Path) extends Op {
  val name = "etl_weekly"
  private var verdicts: DataFrame = _

  def build(spark: SparkSession): DataFrame = {
    def read(t: String) = spark.read.parquet(inputs.dir.resolve(s"$t.parquet").toString)
    val lists = spark.read.format("paginated")
      .option("pages", EtlInputs.Pages).option("pageSize", EtlInputs.PageSize).load()
      .select(col("list_id").cast("string").as("list_id"),
        concat(when(col("list_id") % 3 === 0, lit("Youth ")).otherwise(lit("")),
          col("list_name")).as("list_name"))
    val people = ReferencePipeline.buildPeople(spark, lists, read("list_results"), read("people"),
      read("emails"), read("phones"), graft.operators.Relational.AsOfDate)
    verdicts = Validation.validateCounts(read("expected_counts"),
      ReferencePipeline.actualCounts(people), "list_name")
    ReferencePipeline.applyCsvFormat(people, read("csv_fmt"))
  }

  def act(df: DataFrame): Outcome = {
    Sinks.writeCsvRenamed(df, outDir.toString)
    SheetsShaped.upload(verdicts, outDir.toString, "verdict")
    Outcome(0, "")
  }

  private def lines(f: Path): Seq[String] = Files.readAllLines(f).asScala.toSeq

  /** Every expected list is valid with the generator's count, and every
    * configured list has its CSV with the reference header and its count.
    */
  def check(out: Outcome): Outcome = {
    val errors = Seq.newBuilder[String]
    val verdict = lines(outDir.resolve("verdict.csv"))
    if (verdict.headOption.contains("list_name,expected_count,actual_count,valid")) {
      val got = verdict.tail.map(_.split(",", -1)).map(a => a(0) -> (a(2).toLong, a(3))).toMap
      inputs.counts.foreach { case (list, n) =>
        if (!got.get(list).contains((n, "1"))) errors += s"verdict for '$list': ${got.get(list)}, expected ($n,1)"
      }
    } else errors += s"verdict header: ${verdict.headOption}"
    var rows = 0L
    var bytes = Files.size(outDir.resolve("verdict.csv"))
    inputs.csvNames.foreach { case (list, csv) =>
      val f = outDir.resolve(s"$csv.csv")
      if (!Files.exists(f)) errors += s"missing $csv.csv"
      else {
        val ls = lines(f)
        if (!ls.headOption.contains(EtlInputs.Header)) errors += s"$csv.csv header: ${ls.headOption}"
        if (ls.size - 1 != inputs.counts(list)) errors += s"$csv.csv has ${ls.size - 1} rows, expected ${inputs.counts(list)}"
        rows += ls.size - 1
        bytes += Files.size(f)
      }
    }
    val errs = errors.result()
    Outcome(rows, s"files=${inputs.csvNames.size + 1} bytes=$bytes",
      errs.headOption.map(_ => errs.take(3).mkString("; ")))
  }
}

/** Seeded reference-shaped ETL inputs, written as parquet under `dir`, with
  * the per-list member counts the generator knows (the expectation).
  */
final case class EtlInputs(dir: Path, counts: Map[String, Long], csvNames: Map[String, String])

object EtlInputs {
  val Pages = 1
  val PageSize = 25
  val People = 2000
  val Header = "name,primary_email,primary_phone_number,grade,age"

  def write(spark: SparkSession, seed: Long, dir: Path): EtlInputs = {
    val r = new SplittableRandom(seed)
    val nLists = Pages * PageSize
    def listName(k: Int) = (if (k % 3 == 0) "Youth " else "") + s"list_$k"
    val members = (0 until People).map { p =>
      p -> r.ints(1 + r.nextInt(3).toLong, 0, nLists).toArray.distinct.toSeq
    }
    def s(n: String) = StructField(n, StringType)
    def save(t: String, fields: Seq[StructField], rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, StructType(fields)).coalesce(1)
        .write.mode("overwrite").parquet(dir.resolve(s"$t.parquet").toString)

    save("list_results", Seq(s("list_id"), s("person_id")),
      for ((p, ls) <- members; l <- ls) yield Row(l.toString, s"p$p"))
    save("people", Seq(s("name"), s("person_id"), s("birthdate"), StructField("grade", IntegerType)),
      (0 until People).map { p =>
        val birth = if (r.nextInt(10) == 0) null
          else java.time.LocalDate.of(1990, 1, 1).plusDays(r.nextInt(9000)).toString
        val grade = if (r.nextInt(4) == 0) null else Integer.valueOf(r.nextInt(13))
        Row(s"Person $p", s"p$p", birth, grade)
      })
    def contacts(kind: String): Seq[Row] = (0 until People).flatMap { p =>
      (0 until r.nextInt(3)).map(i => Row(s"p$p", s"$kind$p-$i", s"$kind$p-$i@example.org", r.nextBoolean()))
    }
    save("emails", Seq(s("person_id"), s("email_id"), s("address"), StructField("primary", BooleanType)),
      contacts("e"))
    save("phones", Seq(s("person_id"), s("phone_id"), s("national"), StructField("primary", BooleanType)),
      contacts("ph"))
    val counts = members.flatMap(_._2).filter(_ % 3 == 0).groupBy(identity)
      .map { case (l, ps) => listName(l) -> ps.size.toLong }
    save("expected_counts", Seq(s("list_name"), StructField("expected_count", LongType)),
      counts.toSeq.sorted.map { case (l, n) => Row(l, n) })
    // Two thirds of the counted lists are configured for CSV output.
    val csvNames = counts.keys.toSeq.sorted.filter(_ => r.nextInt(3) != 0)
      .map(l => l -> l.replace(' ', '_').toLowerCase).toMap
    save("csv_fmt", Seq(s("list_name"), s("csv_name")),
      csvNames.toSeq.sorted.map { case (l, c) => Row(l, c) })
    EtlInputs(dir, counts, csvNames)
  }
}

/** The three workloads: the catalog operations of each. A pass runs every
  * one once, in an order drawn from the seed; `ingest` also runs
  * [[EtlWeekly]].
  */
object Workloads {
  val Catalog: Map[String, Seq[String]] = Map(
    "tpch" -> Seq(1, 3, 6, 18, 21).map(q => s"q_tpch_q$q"),
    "curation" -> Seq("d4_ngram_jaccard", "t19_dup_spans", "q_kmeans"),
    "ingest" -> Seq("st1_tumbling_window", "sim_ivf_ingest"))
}
