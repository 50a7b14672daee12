package graft.perfbench

import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}

import graft.SparkEntry

/** Queries from `SparkEntry.queries` over the fixture twin. An op runs
  * from the entry-function call to the end of one pass over
  * `queryExecution.toRdd`, which computes every column of every row; the
  * same pass hashes each row, so every op is checked against the query's
  * golden fingerprint at no extra job.
  *
  * The order is fixed, not seeded: in a cold pass the first queries also
  * pay for warming the JVM and the engine, so a seeded order moved the
  * median op latency by 10-20 % between seeds. The fixture twin does not
  * depend on the seed either, so the seed changes nothing here.
  *
  * `analyst` runs at least two passes, a cold one and a warm one: its ops
  * are short and their cold latencies bunch into two groups, so the median
  * of one pass jumped between runs when a query crossed the gap.
  */
final class QueryWorkload(spark: SparkSession, workload: String,
    fixtures: String, goldensPath: String) extends Workload {

  private val names = QueryWorkload.sets(workload)
  private val goldens: Map[String, Fingerprint] = Fingerprint.load(goldensPath)
  private var nextOp = 0

  override def minPasses: Int = QueryWorkload.minPasses(workload)

  def rowsPerPass: Long = names.flatMap(goldens.get).map(_.rows).sum

  def pass(index: Int, tracer: Option[Tracer]): Seq[OpRecord] =
    names.map { n =>
      val fn = SparkEntry.queries(n)
      val op = nextOp
      nextOp += 1
      val t0 = System.nanoTime()
      val fp = Try(tracer match {
        case None => Fingerprint.of(fn(spark, fixtures))
        case Some(t) =>
          t.span("op", op) {
            val df = t.span("construct", op)(fn(spark, fixtures))
            val f = t.span("execute", op)(Fingerprint.of(df))
            df.queryExecution.tracker.phases.foreach { case (phase, p) =>
              t.place(phase, op, t.fromEpochMs(p.startTimeMs), t.fromEpochMs(p.endTimeMs))
            }
            f
          }
      })
      val ms = (System.nanoTime() - t0) / 1e6
      val (blocks, bytes) = Main.storageLeftAndReset(spark)
      fp.failed.foreach(e => Console.err.println(s"[perfbench] $n failed: $e"))
      fp.filter(f => !goldens.get(n).contains(f)).foreach { f =>
        Console.err.println(s"[perfbench] $n: fingerprint $f, golden ${goldens.get(n)}")
      }
      OpRecord(index, n, ms, fp.toOption.exists(f => goldens.get(n).contains(f)),
        fp.map(_.rows).getOrElse(-1L), blocks, bytes)
    }
}

object QueryWorkload {
  /** The reference's own surface: short queries where building the
    * DataFrame (schema inference, eager driver jobs) costs most.
    */
  val analyst: Seq[String] =
    SparkEntry.queries.keys.filter(_.matches("q\\d\\d_.*")).toSeq ++
      Seq("stats_daily", "transform_posts")

  /** Extension operators: CPU-bound single-pass kernels and driver-job-heavy
    * iterative loops, where execution costs most. Nine, so that one cold
    * pass stays under 20 s on four cores.
    */
  val curationKernels: Seq[String] = Seq(
    "dd_ngram_jaccard", "dd_minhash_lsh_capped", "sim_bruteforce_topk",
    "ta_bm25", "ta_quality", "mm_phash", "ev_sessions")
  val curationLoops: Seq[String] = Seq(
    "gr_kcore", "sim_kmeans")

  val sets: Map[String, Seq[String]] = Map(
    "analyst" -> analyst.sorted,
    "curation" -> (curationKernels ++ curationLoops).sorted)

  val minPasses: Map[String, Int] = Map("analyst" -> 2, "curation" -> 1)
}

/** Row count plus an order-independent content hash of a query result. */
final case class Fingerprint(rows: Long, xor: Long, sum: Long) {
  override def toString: String = s"$rows/$xor/$sum"
}

object Fingerprint {
  /** Runs the query with one pass over its `toRdd` that counts the rows and
    * folds each row's `xxhash64` (over all columns) with XOR and with a
    * wrapping-free sum of the hash's top 44 bits: row order does not matter
    * and a duplicated row still changes the sum.
    */
  def of(df: DataFrame): Fingerprint = {
    val qe = df.queryExecution
    val hash = XxHash64(qe.executedPlan.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable)
    }, 42L)
    qe.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(Seq(hash))
      var n, x, s = 0L
      rows.foreach { r =>
        val h = proj(r).getLong(0)
        n += 1; x ^= h; s += h >>> 20
      }
      Iterator(Fingerprint(n, x, s))
    }.collect().foldLeft(Fingerprint(0L, 0L, 0L)) { (a, b) =>
      Fingerprint(a.rows + b.rows, a.xor ^ b.xor, a.sum + b.sum)
    }
  }

  /** Reads `name<TAB>rows<TAB>xor<TAB>sum` lines. */
  def load(path: String): Map[String, Fingerprint] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, r, x, s) = l.split("\t")
        n -> Fingerprint(r.toLong, x.toLong, s.toLong)
      }.toMap
}
