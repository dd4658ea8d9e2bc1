package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{PersistScope, Sessions}
import graft.sources.PaginatedSource

/** One benchmark run in one JVM: a single client in a closed loop.
  *
  * Set-up builds the session (`Sessions.local`) and runs one untimed warm
  * pass, which also builds every build-if-absent index the operations use.
  * The timed mix then runs whole passes, each operation once per pass in a
  * seed-drawn order: at least [[Main.MinPasses]], and another one only while
  * it still fits in `--seconds`. Each operation is timed as build (the
  * catalog call) + plan (`executedPlan`) + action ([[Digest]]); the pinned
  * working set is released after it, untimed.
  *
  * Writes the raw measurements (and, with `--trace 1`, every span) to
  * `--out` as JSON; `run.py` derives the metrics from that file.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --corpus DIR --work DIR --out FILE --launch-ms EPOCH_MS [--expected FILE]
  */
object Main {
  /** The first timed pass still pays for JIT compilation, so an operation's
    * latency is the median over at least three passes. */
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val corpus = Paths.get(args("corpus")).toAbsolutePath
    val work = Paths.get(args("work")).toAbsolutePath
    val launchMs = args("launch-ms").toLong
    val expected = args.get("expected").map(f => Expected.read(Paths.get(f))).getOrElse(Map.empty)
    val names = Workloads.Catalog.getOrElse(workload, sys.error(s"unknown workload $workload"))

    val t0 = System.nanoTime()
    val spark = Sessions.local(Runtime.getRuntime.availableProcessors().toString)
    val sessionReadyMs = System.currentTimeMillis()
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach { t =>
      spark.sparkContext.addSparkListener(t.listener)
      spark.streams.addListener(t.streamListener)
    }
    val spans: Spans = tracer.getOrElse(Spans.Off)

    val tEtl = System.nanoTime()
    val etl = if (workload == "ingest") {
      val inputs = EtlInputs.write(spark, seed, work.resolve("etl_in"))
      Some(new EtlWeekly(inputs, work.resolve("etl_out")))
    } else None
    val etlInputsS = (System.nanoTime() - tEtl) / 1e9
    val ops: Seq[Op] = names.map(n =>
      new CatalogOp(n, corpus.toString, expected.get(n))) ++ etl.toSeq

    val runner = new Runner(spark, spans, tracer)
    val warm = spans.span("warm pass", "sessions", -1)(_ => runner.pass(order(ops, seed, 0), 0))
    val warmS = warm.wall

    val passes = mutable.ArrayBuffer.empty[PassRecord]
    val tTimed = System.nanoTime()
    def elapsed = (System.nanoTime() - tTimed) / 1e9
    while (passes.size < MinPasses || elapsed + passes.last.wall <= seconds)
      passes += runner.pass(order(ops, seed, passes.size + 1), passes.size + 1)

    PersistScope.releaseAll()
    spark.catalog.clearCache()
    val heapMb = retainedHeapMb()
    tracer.foreach(_ => org.apache.spark.perfbench.ListenerDrain(spark.sparkContext))

    val out = Json.obj(Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "corpus" -> corpus.getFileName.toString,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "cores" -> spark.sparkContext.defaultParallelism,
      "setup" -> Map(
        "launch_to_session_s" -> (sessionReadyMs - launchMs) / 1e3,
        "session_start_s" -> sessionStartS,
        "etl_inputs_s" -> etlInputsS,
        "warm_s" -> warmS),
      "warm" -> Json.Raw(warm.json),
      "passes" -> passes.map(p => Json.Raw(p.json)),
      "heap_retained_mb" -> heapMb,
      "spans" -> tracer.map(_.spans.map(s => Json.Raw(s.json))).getOrElse(Nil)))
    Files.writeString(Paths.get(args("out")), out)
    spark.stop()
  }

  /** What the session keeps once the mix is over and its pins are released:
    * heap in use after full collections. Spark's cleaner frees broadcast and
    * shuffle state asynchronously once a collection finds it unreachable, so
    * collect until three collections in a row free less than 1 MB each.
    */
  private def retainedHeapMb(): Double = {
    def used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    var (prev, cur) = (Double.MaxValue, used)
    var (steady, rounds) = (0, 0)
    while (steady < 3 && rounds < 20) {
      System.gc()
      Thread.sleep(150)
      prev = cur
      cur = used
      steady = if (prev - cur < 1.0) steady + 1 else 0
      rounds += 1
    }
    cur
  }

  /** The seed-drawn order of pass `pass`: a permutation of the operations. */
  def order(ops: Seq[Op], seed: Long, pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)
}

final case class OpRecord(id: Int, name: String, build: Double, plan: Double, action: Double,
                          release: Double, cpu: Double, pagesFetched: Long, out: Outcome) {
  def latency: Double = build + plan + action
  def json: String = Json.obj(Seq("id" -> id, "name" -> name, "build_s" -> build,
    "plan_s" -> plan, "action_s" -> action, "release_s" -> release, "latency_s" -> latency,
    "cpu_s" -> cpu, "pages_fetched" -> pagesFetched, "rows" -> out.rows,
    "digest" -> out.digest, "error" -> out.error))
}

final case class PassRecord(pass: Int, wall: Double, gc: Double, ops: Seq[OpRecord]) {
  def json: String = Json.obj(Seq("pass" -> pass, "wall_s" -> wall, "gc_s" -> gc,
    "ops" -> ops.map(o => Json.Raw(o.json))))
}

final class Runner(spark: SparkSession, spans: Spans, tracer: Option[Tracer]) {
  private var nextId = 0
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  /** Storage memory in use on all block managers: the pinned working set. */
  private def pinnedMb: Double =
    spark.sparkContext.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1e6

  def pass(order: Seq[Op], pass: Int): PassRecord = {
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    val recs = order.map(run)
    PassRecord(pass, (System.nanoTime() - t0) / 1e9, gcSeconds - gc0, recs)
  }

  private def run(op: Op): OpRecord = {
    val id = nextId
    nextId += 1
    def timed[T](name: String, layer: String)(f: Span => T): (T, Double) = {
      val t = System.nanoTime()
      val r = spans.span(name, layer, id)(f)
      (r, (System.nanoTime() - t) / 1e9)
    }
    val etl = op.isInstanceOf[EtlWeekly]
    val pages0 = PaginatedSource.fetches.get()
    spans.span(op.name, "bench", id) { root =>
      var (build, plan, action) = (0.0, 0.0, 0.0)
      var (buildSpan, planSpan) = (root, root)
      val cpu0 = os.getProcessCpuTime
      var cpu1 = cpu0
      val out = try {
        val (df, b) = timed("build", if (etl) "pipeline" else "operators") { s =>
          buildSpan = s
          op.build(spark)
        }
        build = b
        val (_, p) = timed("plan", "plans") { s =>
          planSpan = s
          df.queryExecution.executedPlan
        }
        plan = p
        val (o, a) = timed("action", if (etl) "sinks" else "exec")(_ => op.act(df))
        action = a
        cpu1 = os.getProcessCpuTime
        // The final plan's analysis ran inside build; its optimization and
        // physical planning inside plan. Nest each phase where it ran.
        tracer.foreach { t =>
          df.queryExecution.tracker.phases.foreach { case (phase, s) =>
            val parent = if (phase == "analysis") buildSpan else planSpan
            t.record(phase, "plans", id, parent.id, s.startTimeMs, s.endTimeMs)
          }
        }
        op.check(o)
      } catch {
        case e: Throwable =>
          cpu1 = os.getProcessCpuTime
          Outcome(-1, "", Some(s"${e.getClass.getName}: ${e.getMessage}".take(400)))
      }
      val cpu = (cpu1 - cpu0) / 1e9
      val pages = PaginatedSource.fetches.get() - pages0
      val (_, release) = timed("release", "persist") { s =>
        if (tracer.isDefined) s.add("pinned_mb", pinnedMb)
        PersistScope.releaseAll()
        spark.catalog.clearCache()
      }
      out.error.foreach(e => System.err.println(s"[perfbench] FAILED ${op.name}: $e"))
      OpRecord(id, op.name, build, plan, action, release, cpu, pages, out)
    }
  }
}

object Expected {
  /** One operation per line: name, rows and digest, tab-separated. */
  def read(p: Path): Map[String, Outcome] =
    Files.readAllLines(p).asScala.filter(_.nonEmpty).map { line =>
      val Array(name, rows, digest) = line.split('\t')
      name -> Outcome(rows.toLong, digest)
    }.toMap
}
