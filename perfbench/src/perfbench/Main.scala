package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Shared state of one workload run: session, tracer, seeded streams and
  * the closed loop's samples. A workload issues its timed operations
  * through [[write]] and [[read]]; an exception or a failed inline check
  * counts the op as failed.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val cpus: Int) {
  val seeds = new Seeds(seed)
  val writes = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  var rowsCommitted = 0L
  var attempted = 0L
  var failed = 0L
  /** false during the untimed warmup: ops run, samples are dropped */
  var recording = false
  val failures = mutable.ArrayBuffer.empty[String]
  /** per-layer metrics that are not span counters: name → (value, unit) */
  val extras = mutable.LinkedHashMap.empty[String, (Double, String)]

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  private def timed(samples: mutable.ArrayBuffer[Double], what: String)(
      body: => Either[String, Long]): Unit = {
    val t0 = System.nanoTime()
    val r = try body catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        t.printStackTrace()
        Left(s"$what threw ${t.getClass.getSimpleName}: ${t.getMessage}")
    }
    val s = (System.nanoTime() - t0) / 1e9
    if (recording) {
      attempted += 1
      r match {
        case Right(rows) => samples += s; rowsCommitted += rows
        case Left(msg) => fail(msg)
      }
    } else r.left.foreach(msg => fail(s"warmup: $msg"))
  }

  /** One timed write op; `body` returns the input rows it committed. */
  def write(what: String)(body: => Long): Unit = timed(writes, what)(Right(body))

  /** One timed read op; `verify` (untimed) returns None when the result
    * checks out. */
  def read[T](what: String)(body: => T)(verify: T => Option[String]): Unit = {
    var got: Option[T] = None
    timed(reads, what) { got = Some(body); Right(0L) }
    if (recording) got.flatMap(verify).foreach { m =>
      reads.remove(reads.size - 1)
      fail(s"$what: $m")
    }
  }

  def fail(msg: String): Unit = {
    failed += 1
    failures += msg
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** A correctness check run after timing: counts as one attempted op. */
  def check(what: String)(ok: => Option[String]): Unit = {
    attempted += 1
    val r = try ok catch {
      case t: Throwable if scala.util.control.NonFatal(t) =>
        t.printStackTrace(); Some(s"threw ${t.getMessage}")
    }
    r.foreach(m => fail(s"check $what: $m"))
  }
}

/** A closed-loop workload: seeded raw inputs, a standing state built from
  * them, and steps of timed write and read ops, checked at the end. */
trait Workload {
  /** Write the seeded raw inputs under a fresh `root` (repeatable). */
  def generate(root: String): Unit
  /** Build the standing state from the raw inputs of the last generate. */
  def build(): Unit
  /** One closed-loop step; step 0 is the untimed warmup. */
  def step(i: Int): Unit
  /** Whether step `i` also runs the compactors: the warmup does, so the
    * first timed compaction is not a cold one, and so do timed steps
    * 1, 1 + every, 1 + 2 × every, … — the first timed step always. */
  def compacts(i: Int, every: Int): Boolean = i == 0 || (i - 1) % every == 0
  /** Correctness checks against independent models, via `ctx.check`. */
  def check(): Unit
  def dataDirs: Seq[String]
  def liveRows: Long
  def sizes: Seq[(String, String)]
  /** traced span name → the counters reported for it */
  def layers: Seq[(String, Seq[String])]
}

object Main {
  val SetA = Seq("wall_s", "jobs", "tasks", "shuffle_mb", "exec_cpu_s", "driver_gap_s")
  val SetB = Seq("wall_s", "jobs", "driver_gap_s")
  private val SetupReps = 3

  private def unitOf(counter: String): String = counter match {
    case "jobs" | "tasks" => "count"
    case "shuffle_mb" => "MB"
    case _ => "s"
  }

  private def counter(spans: Seq[Span], c: String): Double = c match {
    case "wall_s" => Stats.median(spans.map(_.wallS))
    case "driver_gap_s" => Stats.median(spans.map(_.driverGapS))
    case "jobs" => Stats.mean(spans.map(_.jobs.toDouble))
    case "tasks" => Stats.mean(spans.map(_.tasks.toDouble))
    case "shuffle_mb" =>
      Stats.mean(spans.map(s => (s.shuffleReadB + s.shuffleWriteB) / 1048576.0))
    case "exec_cpu_s" => Stats.mean(spans.map(_.cpuNs / 1e9))
  }

  private def session(root: String, cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def workload(name: String, ctx: Ctx): Workload = name match {
    case "etl_sql" => new EtlSql(ctx)
    case "nightly_dedup" => new NightlyDedup(ctx)
  }

  /** The build's training run: one `etl_sql` set-up, so the JVM's
    * class-data-sharing archive holds the Spark SQL, parquet and GenTable
    * classes every run loads. */
  private def train(root: String, cpus: Int): Unit = {
    val spark = session(root, cpus)
    val w = workload("etl_sql",
      new Ctx(spark, new Tracer(spark.sparkContext, false, "train"), 0L, cpus))
    w.generate(root)
    w.build()
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.contains("train")) return train(opt("train"), opt("cpus").toInt)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val root = opt("root")
    val cpus = opt("cpus").toInt

    val spark = session(root, cpus)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"${opt("workload")}-$seed-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark.sparkContext, traced, runId)
    val ctx = new Ctx(spark, tracer, seed, cpus)
    val w = workload(opt("workload"), ctx)

    def secs[T](body: => T): Double = {
      val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
    }
    // set-up: generate the seeded inputs several times (each under a fresh
    // root; the last one is kept), build the standing state once, then one
    // untimed warmup step
    val genS = (1 to SetupReps).map { rep =>
      val dir = s"$root/data/rep$rep"
      val s = secs(ctx.span("setup.generate")(w.generate(dir)))
      if (rep > 1) Files.deleteRecursively(s"$root/data/rep${rep - 1}")
      s
    }
    tracer.phase = "build"
    val buildS = secs(ctx.span("setup.build")(w.build()))
    tracer.phase = "warmup"
    val warmS = secs(ctx.span("setup.warmup")(w.step(0)))
    val setupS = sessionS + Stats.median(genS) + warmS

    // the closed loop: one client thread, back-to-back steps (rounds of
    // every op kind) until the deadline, at least one
    ctx.recording = true
    tracer.phase = "loop"
    tracer.drain()
    val overheadAtStart = tracer.overheadNs
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var i = 1
    while (i == 1 || System.nanoTime() < deadline) {
      w.step(i)
      i += 1
    }
    ctx.recording = false
    tracer.drain()
    val overheadS = (tracer.overheadNs - overheadAtStart) / 1e9
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val diskB = w.dataDirs.map(Files.bytes).sum
    val live = w.liveRows
    tracer.phase = "check"
    ctx.span("check")(w.check())

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val writeS = ctx.writes.sum
    if (!traced) {
      metrics("setup_s") = (setupS, "s")
      metrics("build_s") = (buildS, "s")
      if (ctx.writes.nonEmpty) {
        metrics("rows_per_s") = (ctx.rowsCommitted / writeS, "rows/s")
        metrics("write_p50_s") = (Stats.median(ctx.writes.toSeq), "s")
      }
      if (ctx.reads.nonEmpty) metrics("read_p50_s") = (Stats.median(ctx.reads.toSeq), "s")
      metrics("disk_bytes_per_row") = (diskB.toDouble / math.max(1L, live), "B/row")
    } else {
      tracer.drain()
      // the build's calls and the timed loop's; not the warmup's
      val byName = tracer.spans.toSeq
        .filter(s => s.phase == "build" || s.phase == "loop").groupBy(_.name)
      for ((name, counters) <- w.layers; spans <- byName.get(name); c <- counters)
        metrics(s"$name.$c") = (counter(spans, c), unitOf(c))
      ctx.extras.foreach { case (k, v) => metrics(k) = v }
      metrics("unattributed.jobs") = (tracer.unattributedJobs.toDouble, "count")
      ctx.check("every Spark job ran inside a span") {
        if (tracer.unattributedJobs == 0) None
        else Some(s"${tracer.unattributedJobs} jobs were not attributed")
      }
      // the tracer's own work during the loop, as a share of the loop
      metrics("trace.overhead_frac") = (overheadS / loopS, "ratio")
      val out = opt("trace-out")
      new java.io.File(out).getParentFile.mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out), tracer.spansJson)
    }

    def p90(xs: Seq[Double]): Seq[(String, String)] =
      if (xs.size >= 100) Seq("p90_s" -> Json.num(Stats.quantile(xs, 0.9))) else Seq.empty
    val report = Json.obj(Seq(
      "workload" -> Json.str(opt("workload")), "seed" -> seed.toString,
      "trace" -> (if (traced) "1" else "0"),
      "nproc" -> cpus.toString, "heap_gb" -> opt("heap-gb"),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "sizes" -> Json.obj(w.sizes.map { case (k, v) => k -> v }),
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "generate_s" -> Json.arr(genS.map(Json.num)), "warmup_s" -> Json.num(warmS))),
      "loop_s" -> Json.num(loopS), "steps" -> (i - 1).toString,
      "write" -> Json.obj(Seq("n" -> ctx.writes.size.toString) ++ p90(ctx.writes.toSeq)),
      "read" -> Json.obj(Seq("n" -> ctx.reads.size.toString) ++ p90(ctx.reads.toSeq)),
      "rows_committed" -> ctx.rowsCommitted.toString,
      "disk_bytes" -> diskB.toString, "live_rows" -> live.toString,
      "failed_frac" -> Json.num(ctx.failed.toDouble / math.max(1L, ctx.attempted)),
      "failures" -> Json.arr(ctx.failures.take(10).map(Json.str).toSeq)))
    val result = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString, "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "report" -> report))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), result)
    spark.stop()
  }
}
