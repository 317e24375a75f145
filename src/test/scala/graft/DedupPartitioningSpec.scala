package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.sources.LakeWriter

/** Pins the MinHash pair build's exchange and scan shape: the delta
  * build scans the corpus signature table once, both pair builds key
  * the pair table with ONE doc_a exchange, and `spread` sizes itself
  * from the session's parallelism rather than a fixed count. */
class DedupPartitioningSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  lazy val docs = graft.sources.Tables.load(spark, TestSpark.sfDir, "documents")
    .select("doc_id", "text")

  /** Near-dup copies of two corpus docs plus one unrelated doc. */
  private def newDocs: DataFrame =
    docs.where($"doc_id".isin(4L, 9L))
      .select(($"doc_id" + 200000).as("doc_id"),
        concat($"text", lit(" tiny suffix")).as("text"))
      .union(Seq((300000L, "a brand new unique document about nothing else"))
        .toDF("doc_id", "text"))

  /** Children of a physical node, descending into AQE wrappers. */
  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case o => o.children ++ o.subqueries
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** Runs `body`, returning its value and every query plan executed
    * while it ran. */
  private def capturing[T](body: => T): (T, Seq[QueryExecution]) = {
    val seen = ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.synchronized(seen += qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val out = body
      org.apache.spark.GraftListenerBridge.drain(spark.sparkContext)
      (out, seen.synchronized(seen.toList))
    } finally spark.listenerManager.unregister(l)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prev = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prev match {
      case Some(p) => spark.conf.set(k, p)
      case None => spark.conf.unset(k)
    }
  }

  test("delta pair build scans the corpus signature table exactly once") {
    val table = java.nio.file.Files.createTempDirectory("graft_sigscan").toString
    Dedup.upsertSignatureSnapshot(docs, "text", "doc_id", table)
    val existing = LakeWriter.readSnapshot(spark, table)
    val newSigs = Dedup.minhashSignatures(newDocs, "text", "doc_id")
    val (pairs, plans) = capturing {
      Dedup.minhashPairsDeltaFromSigs(newSigs, existing, "doc_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(pairs.contains((4L, 200004L)) && pairs.contains((9L, 200009L)))
    val tableDir = new java.io.File(table).getCanonicalPath
    val scans = plans.flatMap(qe => nodes(qe.executedPlan)).collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(
            _.toUri.getPath.startsWith(tableDir)) => s
    }
    assert(scans.size == 1,
      s"corpus signature table scanned ${scans.size} times over " +
        s"${plans.size} executed plans")
  }

  /** Counts of hash exchanges keyed on doc_a on each root-to-candidate-
    * join path (the candidate join: the inner join on band_hash). */
  private def docAExchangesAboveCandidates(p: SparkPlan): Seq[Int] = {
    def onDocA(e: ShuffleExchangeExec) = e.outputPartitioning match {
      case h: HashPartitioning => h.expressions.exists {
        case a: Attribute => a.name == "doc_a"
        case _ => false
      }
      case _ => false
    }
    def walk(n: SparkPlan, above: Int): Seq[Int] = n match {
      case j: BaseJoinExec if j.joinType == Inner &&
          j.leftKeys.exists(_.references.exists(_.name == "band_hash")) =>
        Seq(above)
      case e: ShuffleExchangeExec if onDocA(e) =>
        kids(n).flatMap(walk(_, above + 1))
      case _ => kids(n).flatMap(walk(_, above))
    }
    walk(p, 0)
  }

  test("full and delta pair plans key the pair table with one doc_a exchange") {
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val sigs = Dedup.minhashSignatures(docs, "text", "doc_id")
      val full = Dedup.minhashPairsFromSigs(sigs, "doc_id")
      val delta = Dedup.minhashPairsDeltaFromSigs(
        Dedup.minhashSignatures(newDocs, "text", "doc_id"), sigs, "doc_id")
      for ((name, df) <- Seq("full" -> full, "delta" -> delta)) {
        df.collect()
        val paths = docAExchangesAboveCandidates(df.queryExecution.executedPlan)
        assert(paths.nonEmpty, s"$name: no candidate join found")
        assert(paths.forall(_ == 1),
          s"$name: doc_a exchanges above the candidate join per path: $paths\n" +
            df.queryExecution.executedPlan)
      }
    }
  }

  test("spread follows the session's parallelism, not a fixed count") {
    // a second SparkContext cannot share this JVM: run the check in a
    // child JVM whose session is local[2]
    val dir = java.nio.file.Files.createTempDirectory("graft_spread").toString
    val javaBin = ProcessHandle.current().info().command().get()
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx1g", "-cp",
      System.getProperty("java.class.path"),
      "graft.DedupSpreadLocal2", dir)
    val out, err = new StringBuilder
    val code = scala.sys.process.Process(cmd)
      .!(scala.sys.process.ProcessLogger(l => out.append(l).append('\n'),
        l => err.append(l).append('\n')))
    assert(code == 0, s"child JVM failed:\n$out\n${err.takeRight(4000)}")
    val result = out.toString.linesIterator.filter(_.startsWith("spread ")).toSeq
    assert(result == Seq(
      "spread oneFile partitions=2",
      "spread twoFiles unspread=true"), out.toString)
  }
}

/** Child-JVM half of DedupPartitioningSpec: `Dedup.spread` in a
  * `local[2]` session. Prints one `spread …` line per case. */
object DedupSpreadLocal2 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val dir = args(0)
      val rows = spark.range(100)
        .selectExpr("id AS doc_id", "CAST(id AS STRING) AS text")
      rows.coalesce(1).write.parquet(s"$dir/one")
      rows.repartition(2).write.parquet(s"$dir/two")
      val one = spark.read.parquet(s"$dir/one")
      val two = spark.read.parquet(s"$dir/two")
      require(one.inputFiles.length == 1 && two.inputFiles.length == 2)
      println("spread oneFile partitions=" +
        Dedup.spread(one, "doc_id").rdd.getNumPartitions)
      println("spread twoFiles unspread=" + (Dedup.spread(two, "doc_id") eq two))
    } finally spark.stop()
  }
}
