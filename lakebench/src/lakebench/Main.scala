package lakebench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one long-lived session, one
  * closed-loop client.
  *
  *   lakebench.Main --workload <lambda_day|curation_load>
  *     --seed <n> --seconds <s> --trace <0|1> --work <dir> --profile <json>
  *
  * Prints one JSON line last: the end-to-end metrics untraced, the
  * per-layer span metrics traced. */
object Main {
  /** Nominal op cost at HEAD on a 4-core host; it only sizes a run to
    * about `--seconds`. Runs stop early past [[CapFactor]] × seconds. */
  val NominalOpMs = Map("lambda_day" -> 10000.0, "curation_load" -> 15000.0)
  val MinOps = Map("lambda_day" -> 2, "curation_load" -> 3)
  val CapFactor = 3.0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var excludedNs = 0L
  private var excludedCpuNs = 0L

  /** Runs check bookkeeping inside an op without charging the op for it. */
  def untimed[T](body: => T): T = {
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    try body finally {
      excludedNs += System.nanoTime() - w0
      excludedCpuNs += os.getProcessCpuTime - c0
    }
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    System.err.println(f"[lakebench] ${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s: $msg")

  final case class OpRec(latencyMs: Double, cpuS: Double, rows: Long, timed: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(NominalOpMs.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val profile = Profile.load(Paths.get(a("profile")))
    val cpus = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    if (trace) builder.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFileSystem].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(trace)
    tracer.install(spark)
    log("session up")

    val planned = math.max(MinOps(workload), (seconds * 1000 / NominalOpMs(workload)).round.toInt)
    val bench: Bench = workload match {
      case "lambda_day" => new LambdaBench(spark, tracer, work, profile, seed, planned)
      case "curation_load" => new CurationBench(spark, tracer, work, profile, seed, planned)
    }
    val setupProblems = bench.setup()
    log(s"setup done, $planned ops planned")
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    setupProblems.foreach(p => System.err.println(s"[lakebench] setup: $p"))

    val ops = mutable.ArrayBuffer.empty[OpRec]
    // the set-up load is checked like an op and counts as one attempted op
    var failed = if (setupProblems.nonEmpty) 1 else 0
    val t0 = System.nanoTime()
    var i = 0
    while (i < planned && (System.nanoTime() - t0) / 1e9 < CapFactor * seconds) {
      tracer.beginOp(i)
      excludedNs = 0L; excludedCpuNs = 0L
      val (c0, w0) = (os.getProcessCpuTime, System.nanoTime())
      val outcome = try Right(bench.op(i)) catch { case e: Throwable => Left(e) }
      val rec = OpRec((System.nanoTime() - w0 - excludedNs) / 1e6,
        (os.getProcessCpuTime - c0 - excludedCpuNs) / 1e9, bench.rows(i), bench.isLatencyOp(i))
      ops += rec
      log(f"op $i: ${rec.latencyMs}%.0f ms, ${rec.cpuS}%.2f CPU-s")
      outcome.left.foreach(_.printStackTrace())
      val problems = outcome.fold(e => Seq(s"op $i failed: $e"),
        _ => try bench.check(i) catch { case e: Throwable => Seq(s"op $i check failed: $e") })
      if (problems.nonEmpty) {
        failed += 1
        problems.foreach(p => System.err.println(s"[lakebench] $p"))
      }
      i += 1
    }
    tracer.beginOp(-1)

    val metrics: Seq[(String, Double, String)] =
      if (trace) {
        tracer.dump(work.getParent.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
        tracer.metrics(Tracer.Reported)
      } else {
        val wallS = ops.map(_.latencyMs).sum / 1e3
        val lat = ops.filter(_.timed).map(_.latencyMs).toSeq
        // a forced GC only enqueues unreachable broadcasts and RDDs; Spark's
        // ContextCleaner drops their on-heap blocks afterwards, so read the
        // live heap after a second GC that follows the cleaner
        System.gc()
        Thread.sleep(2000)
        System.gc()
        val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
        Seq(
          ("setup_s", setupS, "s"),
          ("wall_s", wallS, "s"),
          ("op_ms_p50", Stats.median(lat), "ms"),
          ("op_ms_p95", Stats.quantile(lat, 0.95), "ms"),
          ("cpu_s", ops.map(_.cpuS).sum, "CPU-s"),
          ("rows_per_s", ops.map(_.rows).sum / wallS, "rows/s"),
          ("op_cost_growth", Stats.growth(lat), "ratio"),
          ("heap_live_mb_end", heapMb, "MB"),
          ("stored_mb_per_input_mb", Lake.bytes(bench.lake).toDouble / bench.inputBytes, "ratio"))
      }
    spark.stop()
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": $v, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": ${ops.size + 1}, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
  }
}

/** A workload as the timed loop sees it. */
trait Bench {
  /** Loads the lake up to the first timed op; returns the output checks
    * of that load, each string one failed check. */
  def setup(): Seq[String]
  def op(i: Int): Unit
  /** Output checks of op `i`; each string is one failed check. */
  def check(i: Int): Seq[String]
  /** Input rows op `i` consumed. */
  def rows(i: Int): Long
  /** Whether op `i` is a load op that enters the latency percentiles;
    * maintenance ops count only towards wall_s and cpu_s. */
  def isLatencyOp(i: Int): Boolean = true
  def lake: Path
  def inputBytes: Long
}

/** Consecutive datadates. Set-up loads and serves day 0, the only day on
  * the create-table path; it is also the JVM warm-up (a separate warm-up
  * lake cost more set-up than it took off the first timed days). */
final class LambdaBench(spark: SparkSession, tracer: Tracer, work: Path, profile: Profile,
                        seed: Long, days: Int) extends Bench {
  private val main = new LambdaLake(spark, tracer, work.resolve("lambda"), profile, seed)
  def setup(): Seq[String] = {
    main.generate(0 to days)
    main.day(0)
    tracer.watch(main.lake)
    main.check(0)
  }
  def op(i: Int): Unit = main.day(i + 1)
  def check(i: Int): Seq[String] = main.check(i + 1)
  def rows(i: Int): Long = main.rows(i + 1)
  def lake: Path = main.lake
  def inputBytes: Long = main.inputBytes
}

/** Consecutive ~500-doc batches into one corpus, with corpus
  * maintenance as its own op after every second batch. Set-up warms the
  * JVM on a separate 60-doc corpus and checks it. Batch 0, the first
  * timed op, creates the corpus: with batch 0 in set-up instead, every
  * run makes two Bloom anti-join calls, and the second ran out of the
  * 8 g heap in 3 of 7 runs (see baseline/NOTE.md). */
final class CurationBench(spark: SparkSession, tracer: Tracer, work: Path, profile: Profile,
                          seed: Long, ops: Int) extends Bench {
  private val main = new CurationLoad(spark, tracer, work.resolve("curation"), profile, seed, 500)
  private val MaintainEvery = 2
  def setup(): Seq[String] = {
    val warm = new CurationLoad(spark, tracer, work.resolve("warmup"), profile, seed + 1, 60)
    warm.generate(Seq(0))
    warm.batch(0)
    main.generate(0 until ops - ops / (MaintainEvery + 1))
    tracer.watch(main.lake)
    warm.check(0)
  }
  /** Op `i` is a batch, or the maintenance run after every MaintainEvery batches. */
  private def batchOf(i: Int): Option[Int] =
    if ((i + 1) % (MaintainEvery + 1) == 0) None else Some(i - i / (MaintainEvery + 1))
  def op(i: Int): Unit = batchOf(i).fold(main.maintain())(main.batch)
  def check(i: Int): Seq[String] = main.check(batchOf(i).getOrElse(batchOf(i - 1).get))
  def rows(i: Int): Long = batchOf(i).fold(0L)(main.rows)
  override def isLatencyOp(i: Int): Boolean = batchOf(i).nonEmpty
  def lake: Path = main.lake
  def inputBytes: Long = main.inputBytes
}
