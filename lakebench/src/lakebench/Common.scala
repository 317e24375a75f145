package lakebench

import java.nio.file.{Files, Path}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

object Stats {
  /** Quantile by linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median of the last third of `xs` over the median of the first third. */
  def growth(xs: Seq[Double]): Double = {
    val third = math.max(1, xs.size / 3)
    median(xs.takeRight(third)) / median(xs.take(third))
  }
}

object Lake {
  /** Regular files under `root` with their (size, mtime). */
  def files(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
      }.toMap
      finally s.close()
    }

  def bytes(root: Path): Long = files(root).values.map(_._1).sum

  private lazy val checkPool = ExecutionContext.fromExecutorService(
    java.util.concurrent.Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, "lakebench-check"); t.setDaemon(true); t
    }))

  /** Runs independent output checks on a small pool: they are short
    * driver-bound Spark jobs, so running them together keeps the untimed
    * gap between ops short. */
  def concurrently[T](tasks: Seq[() => T]): Seq[T] =
    Await.result(Future.traverse(tasks)(t => Future(t())(checkPool))(implicitly, checkPool),
      Duration.Inf)

  /** Order-independent digest of result rows: CRC32 of the sorted
    * rendered rows, so two plans of one query compare equal. */
  def checksum(rows: Seq[String]): Long = {
    val crc = new java.util.zip.CRC32()
    rows.sorted.foreach(r => crc.update((r + "\n").getBytes("UTF-8")))
    crc.getValue
  }
}
