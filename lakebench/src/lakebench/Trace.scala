package lakebench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans and counters around every call the benchmark makes into
  * graft. Disabled (the untraced run) every method is a pass-through:
  * no listener is registered and nothing is recorded.
  *
  * A span is one call `<module>.<function>[.<stage>]`; it records wall
  * start/end, its parent, the op it belongs to, and deltas of Hadoop
  * FileSystem op counts. Spark work is attributed after the run from
  * public listener events: jobs carry the id of the span that
  * submitted them as a local property (falling back to the innermost
  * span open at the job's start), and Catalyst phases are attributed
  * to the innermost span open when the phase started. */
final class Tracer(val enabled: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var opId = -1
  private var spark: SparkSession = _

  // listener-side records, filled on the listener bus thread
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  private val stageAcc = new ConcurrentHashMap[Int, Array[Long]]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  def install(s: SparkSession): Unit = {
    spark = s
    if (!enabled) return
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val sid = Option(e.properties).flatMap(p =>
          Option(p.getProperty(SpanProp))).map(_.toInt).getOrElse(-1)
        jobs.put(e.jobId, JobRec(sid, e.time, Long.MaxValue))
        e.stageIds.foreach(st => stageToJob.put(st, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobs.get(e.jobId)).foreach(j => jobs.put(e.jobId, j.copy(end = e.time)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          val a = stageAcc.computeIfAbsent(e.stageId, _ => new Array[Long](2))
          a.synchronized {
            a(0) += m.executorCpuTime
            a(1) += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
    })
    s.listenerManager.register(new QueryExecutionListener {
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, p) =>
          if (PlanPhases(name)) phases.add((p.startTimeMs, p.endTimeMs - p.startTimeMs))
        }
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    })
  }

  /** Marks the start of op `id`; spans opened until the next call belong to it. */
  def beginOp(id: Int): Unit = opId = id

  def span[T](name: String, writes: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      if (writes) untimed(walk())
      val s = open(name)
      try body finally {
        close()
        if (writes) untimed(s.filesWritten += walk())
      }
    }

  /** Stage spans of a call that reports its own stage boundaries (the
    * runDate probe): each call closes the open stage and opens `name`. */
  def stage(name: String, writes: Boolean): Unit = if (enabled) {
    endStage()
    if (writes) untimed(walk())
    openStage = Some((open(name), writes))
  }

  def endStage(): Unit = if (enabled) openStage.foreach { case (s, writes) =>
    close()
    if (writes) untimed(s.filesWritten += walk())
    openStage = None
  }

  private var openStage: Option[(Span, Boolean)] = None

  private def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), opId,
      System.currentTimeMillis(), System.nanoTime(), fsOps())
    spans += s
    stack.push(s)
    spark.sparkContext.setLocalProperty(SpanProp, s.id.toString)
    s
  }

  private def close(): Unit = {
    val s = stack.pop()
    s.endMs = System.currentTimeMillis()
    s.endNs = System.nanoTime()
    s.fsOpsEnd = fsOps()
    spark.sparkContext.setLocalProperty(SpanProp,
      stack.headOption.map(_.id.toString).orNull)
  }

  /** Runs `body` with every open span's clock stopped: the directory
    * walk behind files_written must not count against any span. */
  private def untimed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    body
    val dt = System.nanoTime() - t0
    stack.foreach { s => s.pausedNs += dt; s.pausedMs += System.currentTimeMillis() - m0 }
  }

  private var walkRoot: Option[java.nio.file.Path] = None
  private var lastWalk = Map.empty[String, (Long, Long)]

  /** Directory whose new or rewritten files count as files_written. */
  def watch(root: java.nio.file.Path): Unit = { walkRoot = Some(root); lastWalk = Map.empty }

  /** Files under the watched root that are new or changed since the last walk. */
  private def walk(): Long = walkRoot.fold(0L) { root =>
    val now = Lake.files(root).filterNot(_._1.endsWith(".crc"))
    val n = now.count { case (p, v) => !lastWalk.get(p).contains(v) }
    lastWalk = now
    n.toLong
  }

  /** Per-span metrics, each the median over ops of the op's total. */
  def metrics(reported: Seq[SpanSpec]): Seq[(String, Double, String)] = {
    awaitListener()
    val jobList = jobs.values().asScala.toSeq
    val byId = spans.toIndexedSeq
    def innermostAt(t: Long): Option[Span] = byId.filter(s =>
      s.startMs <= t && t <= s.endMs).maxByOption(_.startNs)
    val jobSpan: Map[Int, Int] = jobs.asScala.map { case (jid, j) =>
      jid -> (if (j.span >= 0) j.span else innermostAt(j.start).map(_.id).getOrElse(-1))
    }.toMap
    val cpuNs = new Array[Long](byId.size)
    val shuffle = new Array[Long](byId.size)
    val nJobs = new Array[Long](byId.size)
    jobSpan.values.filter(_ >= 0).foreach(i => nJobs(i) += 1)
    stageAcc.asScala.foreach { case (st, a) =>
      Option(stageToJob.get(st)).flatMap(jobSpan.get).filter(_ >= 0).foreach { i =>
        cpuNs(i) += a(0); shuffle(i) += a(1)
      }
    }
    val planMs = new Array[Long](byId.size)
    phases.asScala.foreach { case (t, d) => innermostAt(t).foreach(s => planMs(s.id) += d) }
    val children = byId.groupBy(_.parent)
    val jobCover = union(jobList.map(j => (j.start, math.max(j.start, j.end))))
    def selfIntervals(s: Span): Seq[(Long, Long)] =
      subtract(Seq((s.startMs, s.endMs)),
        children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
    val rows = byId.map { s =>
      val kids = children.getOrElse(s.id, Nil)
      val selfNs = (s.endNs - s.startNs - s.pausedNs) -
        kids.map(c => c.endNs - c.startNs - c.pausedNs).sum
      val self = selfIntervals(s)
      val walkMs = s.pausedMs - kids.map(_.pausedMs).sum
      val gap = math.max(0L, length(self) - walkMs - length(intersect(self, jobCover)))
      val fs = (s.fsOpsEnd - s.fsOpsStart) - kids.map(c => c.fsOpsEnd - c.fsOpsStart).sum
      s -> Map(
        "wall_ms" -> selfNs / 1e6, "cpu_s" -> cpuNs(s.id) / 1e9,
        "jobs" -> nJobs(s.id).toDouble, "gap_ms" -> gap.toDouble,
        "plan_ms" -> planMs(s.id).toDouble, "fs_ops" -> fs.toDouble,
        "files_written" -> s.filesWritten.toDouble,
        "shuffle_mb" -> shuffle(s.id) / 1e6)
    }
    reported.flatMap { spec =>
      val perOp = rows.filter(r => r._1.name == spec.name && r._1.op >= 0).groupBy(_._1.op).values.toSeq
      spec.fields.map { f =>
        val vals = perOp.map(_.map(_._2(f)).sum)
        (s"${spec.name}.$f", if (vals.isEmpty) 0.0 else Stats.median(vals), FieldUnits(f))
      }
    }
  }

  /** Spans as JSON lines: name, start, end, parent, op id, counters. */
  def dump(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.map { s =>
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":${s.op},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_ms":${(s.endNs - s.startNs - s.pausedNs) / 1e6}%.3f,""" +
        f""""fs_ops":${s.fsOpsEnd - s.fsOpsStart},"files_written":${s.filesWritten}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Listener events arrive asynchronously: wait until every started job has ended. */
  private def awaitListener(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      jobs.values().asScala.exists(_.end == Long.MaxValue)) Thread.sleep(20)
  }
}

object Tracer {
  val SpanProp = "lakebench.span"
  val PlanPhases = Set("analysis", "optimization", "planning")
  val FieldUnits = Map("wall_ms" -> "ms", "cpu_s" -> "CPU-s", "jobs" -> "count",
    "gap_ms" -> "ms", "plan_ms" -> "ms", "fs_ops" -> "count",
    "files_written" -> "count", "shuffle_mb" -> "MB")
  val Base = Seq("wall_ms", "cpu_s", "jobs", "gap_ms", "plan_ms", "fs_ops")

  final case class SpanSpec(name: String, writes: Boolean = false, shuffles: Boolean = false) {
    def fields: Seq[String] =
      Base ++ (if (writes) Seq("files_written") else Nil) ++ (if (shuffles) Seq("shuffle_mb") else Nil)
  }

  final case class JobRec(span: Int, start: Long, end: Long)

  final case class Span(id: Int, name: String, parent: Int, op: Int,
                        startMs: Long, startNs: Long, fsOpsStart: Long) {
    var endMs = 0L; var endNs = 0L; var fsOpsEnd = 0L
    var pausedNs = 0L; var pausedMs = 0L; var filesWritten = 0L
  }

  @annotation.nowarn("cat=deprecation")
  def fsOps(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(s => s.getReadOps.toLong + s.getLargeReadOps + s.getWriteOps).sum

  private def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def intersect(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    for { (s1, e1) <- a; (s2, e2) <- b; s = math.max(s1, s2); e = math.min(e1, e2); if s < e }
      yield (s, e)

  private def subtract(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    union(b).foldLeft(a) { (acc, cut) =>
      acc.flatMap { case (s, e) =>
        Seq((s, math.min(e, cut._1)), (math.max(s, cut._2), e)).filter(i => i._1 < i._2)
      }
    }

  private def length(iv: Seq[(Long, Long)]): Long = iv.map(i => i._2 - i._1).sum

  /** Every per-layer span, in BENCHMARK.json order. */
  val Reported: Seq[SpanSpec] = Seq(
    SpanSpec("pipeline.runDate.prep"),
    SpanSpec("pipeline.runDate.staging", writes = true),
    SpanSpec("pipeline.runDate.dim_date", writes = true),
    SpanSpec("pipeline.runDate.dim_event_type", writes = true),
    SpanSpec("pipeline.runDate.dim_user_state", writes = true, shuffles = true),
    SpanSpec("pipeline.runDate.fact", writes = true, shuffles = true),
    SpanSpec("pipeline.runDate.ledger", writes = true),
    SpanSpec("streaming.Speed.upsertToSnapshot", writes = true),
    SpanSpec("sources.Catalog.commit", writes = true),
    SpanSpec("pipeline.CurationPipeline.run", writes = true, shuffles = true),
    SpanSpec("pipeline.CurationPipeline.maintain", writes = true),
    SpanSpec("sources.LakeWriter.readSnapshot"),
    SpanSpec("sources.Views.rollup"),
    SpanSpec("sources.Views.topn"),
    SpanSpec("sources.Views.timeseries"),
    SpanSpec("sources.LakeWriter.readSnapshotWhere"),
    SpanSpec("sources.Views.asof"),
    SpanSpec("sources.LakeWriter.changesBetween"),
    SpanSpec("sources.LakeWriter.mergeSnapshotMor", writes = true))
}
