package graft.perfbench

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{abs, col}

import graft.pipeline.Pipeline
import graft.source.{JsonDumpSource, RedditSource}

/** `Pipeline.runAll` with comment extraction over the seeded dump: each pass
  * loads every round into a fresh warehouse, so later rounds append to and
  * upsert into tables that already hold the earlier ones. An op is one
  * subreddit run, in the dump's order (largest subreddit first), and must
  * load every post offered. After each pass the warehouse must hold
  * exactly the ids the dump offered, once each, and the stats rows the
  * upsert should keep; otherwise every op of the pass counts as failed.
  */
final class IngestWorkload(spark: SparkSession, dump: String, work: String) extends Workload {

  /** Pipeline's post limit; above any subreddit's posts in one round, so
    * every offered post is fetched (the dump's expectations assume it).
    */
  private val PostLimit = 200

  private case class Step(round: Int, subreddit: String, posts: Long,
      comments: Long)

  private val plan: Seq[Step] =
    scala.io.Source.fromFile(s"$dump/plan.tsv", "UTF-8").getLines()
      .filter(_.nonEmpty).map(_.split("\t")).map { f =>
        Step(f(0).toInt, f(1), f(2).toLong, f(3).toLong)
      }.toSeq
  private val rounds = plan.map(_.round).distinct.sorted
  private var nextOp = 0
  private val extras = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val wh = s"$work/warehouse"
  private var source: TracingSource = _

  def rowsPerPass: Long = plan.map(s => s.posts + s.comments).sum

  override def layerExtras: Map[String, Double] = extras.toMap

  private def dumpSource(round: Int) =
    new JsonDumpSource(s"$dump/round$round/posts.json", s"$dump/round$round/comments.json")

  def pass(index: Int, tracer: Option[Tracer]): Seq[OpRecord] = {
    delete(wh)
    source = new TracingSource(tracer)
    rounds.flatMap { r =>
      source.underlying = dumpSource(r)
      val pipeline = new Pipeline(spark, source, wh)
      plan.filter(_.round == r).map { step =>
        val op = nextOp
        nextOp += 1
        source.op = op
        val t0 = System.nanoTime()
        val out = tracer match {
          case None => run(pipeline, step)
          case Some(t) => t.span("op", op)(run(pipeline, step))
        }
        val ms = (System.nanoTime() - t0) / 1e6
        val (blocks, bytes) = Main.storageLeftAndReset(spark)
        OpRecord(index, s"r$r:${step.subreddit}", ms,
          out.toOption.contains(step.posts), out.getOrElse(-1L), blocks, bytes)
      }
    }
  }

  override def check(index: Int, tracer: Option[Tracer]): Boolean = {
    tracer.foreach { t =>
      val opSpans = t.spans.filter(s => s.name == "op" && s.parent == -1)
        .map(s => (s.op, s.startNs - 1000000L, s.endNs))
      val writes = t.takeWrites(opSpans.toSeq)
      val keyed = writes.filter(w => Seq("/posts", "/comments").exists(w.path.endsWith))
      extras("sink.rows_written") += keyed.map(_.rows).sum
      extras("sink.bytes_written") += writes.map(_.bytes).sum
      extras("sink.files_written") += writes.map(_.files).sum
      extras("sink.warehouse_growth_bytes") += parquetBytes(wh)
      extras("source.fetch_calls") += source.calls
      extras("source.fetch_ms") += source.fetchNs / 1e6
      extras("source.empty_fetches") += source.empty
      extras("source.rows_read") += source.rows
      // Pipeline hands every fetched row to the sink: posts to the K1
      // append, each non-empty comment fetch to the K2 append
      extras("sink.rows_offered") += source.rows
    }
    val problems = invariants()
    problems.foreach(p => Console.err.println(s"[perfbench] pass $index: $p"))
    problems.isEmpty
  }

  private def run(pipeline: Pipeline, step: Step): Try[Long] =
    pipeline.runAll(Seq(step.subreddit), PostLimit, extractComments = true)
      .getOrElse(step.subreddit, Try(-1L))

  /** The warehouse after a pass, against the dump's expectations. */
  private def invariants(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def ids(table: String, expected: String): Unit = {
      val got = spark.read.parquet(s"$wh/$table").select(col("id"))
      val want = spark.read.schema("id string").json(s"$dump/$expected")
      val n = got.count()
      if (n != got.distinct().count()) problems += s"duplicate $table ids"
      if (got.exceptAll(want).count() + want.exceptAll(got.distinct()).count() != 0)
        problems += s"$table ids differ from the ids offered"
    }
    ids("posts", "expected_posts.json")
    ids("comments", "expected_comments.json")
    val stats = spark.read.parquet(s"$wh/subreddit_stats")
      .withColumn("date", col("date").cast("string"))
    if (stats.groupBy("subreddit", "date").count().filter(col("count") > 1).count() != 0)
      problems += "more than one stats row per (subreddit, date)"
    val want = spark.read.schema("subreddit string, date string, total_posts long, " +
      "avg_score double, avg_comments double, top_post_score int")
      .json(s"$dump/expected_stats.json")
    val j = want.as("w").join(stats.as("s"), Seq("subreddit", "date"), "full_outer")
    val off = j.filter(
      col("w.total_posts").isNull || col("s.total_posts").isNull ||
        col("w.total_posts") =!= col("s.total_posts") ||
        col("w.top_post_score") =!= col("s.top_post_score") ||
        abs(col("w.avg_score") - col("s.avg_score")) > 2e-6 ||
        abs(col("w.avg_comments") - col("s.avg_comments")) > 2e-6)
    val nOff = off.count()
    if (nOff != 0) problems += s"$nOff stats rows differ from a recomputation"
    problems.toSeq
  }

  private def fs(p: String) = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def delete(p: String): Unit = fs(p).delete(new Path(p), true)

  private def parquetBytes(p: String): Long = {
    val it = fs(p).listFiles(new Path(p), true)
    var n = 0L
    while (it.hasNext) { val f = it.next(); if (f.getPath.getName.endsWith(".parquet")) n += f.getLen }
    n
  }
}

/** The round's source; in a traced pass it also times every fetch and
  * counts the rows the fetch yields, with its own job in a `probe` span
  * that the ledger leaves out of every layer.
  */
final class TracingSource(tracer: Option[Tracer]) extends RedditSource {
  var underlying: RedditSource = _
  var op = -1
  var calls, empty, rows, fetchNs = 0L

  private def fetch(body: => DataFrame): DataFrame = tracer match {
    case None => body
    case Some(t) =>
      val t0 = System.nanoTime()
      val df = t.span("fetch", op)(body)
      fetchNs += System.nanoTime() - t0
      calls += 1
      val n = t.span("probe", op)(df.count())
      rows += n
      if (n == 0) empty += 1
      df
  }

  override def fetchPosts(spark: SparkSession, subreddit: String, limit: Int,
      sort: String): DataFrame =
    fetch(underlying.fetchPosts(spark, subreddit, limit, sort))

  override def fetchComments(spark: SparkSession, postId: String,
      limit: Int): DataFrame =
    fetch(underlying.fetchComments(spark, postId, limit))
}
