package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

/** One timed op: its latency, whether its output checked out, the rows it
  * returned or offered, and the cached blocks it left behind.
  */
final case class OpRecord(pass: Int, name: String, ms: Double, ok: Boolean,
    rows: Long, blocksLeft: Long, bytesLeft: Long)

/** One workload: passes of fixed work, each timed as a whole and per op,
  * with every op's output checked.
  */
trait Workload {
  /** Runs one pass of the workload's fixed work. */
  def pass(index: Int, tracer: Option[Tracer]): Seq[OpRecord]
  /** Passes the timed phase runs at least. */
  def minPasses: Int = 1
  /** Rows the fixed work returns (queries) or offers to the sink (ingest). */
  def rowsPerPass: Long
  /** Per-layer counters beyond the tracer's, summed over traced passes. */
  def layerExtras: Map[String, Double] = Map.empty
  /** Checks a pass's output once its timing has stopped, e.g. the
    * warehouse's invariants, and collects its per-layer counters; false
    * fails every op of the pass.
    */
  def check(index: Int, tracer: Option[Tracer]): Boolean = true
}

/** Entry point of the benchmark's JVM side. `run.py` starts it with:
  * `--workload W --seed N --seconds S --trace 0|1 --cores C --fixtures DIR
  * --dump DIR --goldens FILE --work DIR --out DIR`.
  * It writes `result.json` (and `spans.jsonl` when traced) into `--out`.
  *
  * The timed phase starts cold: one process per run, timed from its first
  * op, as a batch ETL job or a fresh analysis session meets it. It runs
  * the workload's minimum passes and then passes until `--seconds` have
  * been timed; op latencies are pooled over all of them. Output checks
  * that need a pass to have ended run outside its timing. Set-up is the
  * process start, the session build and the calibration probe, which also
  * warms the scheduler before the first op.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val uptimeMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    def sinceStartS() = uptimeMs / 1e3 + (System.nanoTime() - mainNs) / 1e9
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val out = args("out")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wl: Workload = workload match {
      case "analyst" | "curation" =>
        new QueryWorkload(spark, workload, args("fixtures"), args("goldens"))
      case "ingest" =>
        new IngestWorkload(spark, args("dump"), work)
      case other => sys.error(s"unknown workload $other")
    }
    val loadStart = loadavg()
    val calibStart = calibrate(spark)
    val setupS = sinceStartS()
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val passes = mutable.ArrayBuffer.empty[Double]
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    do {
      val t0 = System.nanoTime()
      val done = wl.pass(passes.size, tracer)
      passes += (System.nanoTime() - t0) / 1e9
      val ok = wl.check(passes.size - 1, tracer)
      ops ++= done.map(o => o.copy(ok = o.ok && ok))
    } while (passes.size < wl.minPasses || passes.sum < seconds)
    tracer.foreach(_.drain())
    val calibEnd = calibrate(spark)
    val loadEnd = loadavg()

    val result = ListMap[String, Any](
      "workload" -> workload,
      "seed" -> seed,
      "cores" -> cores,
      "setup_s" -> setupS,
      "rows_per_pass" -> wl.rowsPerPass,
      "peak_rss_mb" -> peakRssMb(),
      "load_start" -> loadStart,
      "load_end" -> loadEnd,
      "calib_start_s" -> calibStart,
      "calib_end_s" -> calibEnd,
      "passes" -> passes.toSeq.map(s => Map("wall_s" -> s)),
      "ops" -> ops.toSeq.map(o => ListMap(
        "pass" -> o.pass, "name" -> o.name, "ms" -> o.ms,
        "ok" -> o.ok, "rows" -> o.rows,
        "blocks_left" -> o.blocksLeft, "bytes_left" -> o.bytesLeft))
    ) ++ tracer.toSeq.flatMap { t => Seq(
      "traced_passes" -> passes.size,
      "layers" -> ListMap((Ledger.layers(t, ops.toSeq, cores) ++ wl.layerExtras): _*))
    }
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "result.json"), Json.writeValueAsBytes(result))
    tracer.foreach { t =>
      val lines = t.spans.sortBy(_.id).map { s =>
        Json.writeValueAsString(ListMap("id" -> s.id, "parent" -> s.parent,
          "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startNs / 1e6, "end_ms" -> s.endNs / 1e6))
      }
      Files.write(Paths.get(out, "spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Storage blocks and bytes still cached, then dropped, so the next op
    * starts from an empty cache.
    */
  def storageLeftAndReset(spark: SparkSession): (Long, Long) = {
    val sc = spark.sparkContext
    val infos = sc.getRDDStorageInfo
    val left = (infos.map(_.numCachedPartitions.toLong).sum,
      infos.map(i => i.memSize + i.diskSize).sum)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    left
  }

  /** `graft.Bench`'s constant-work probe at a sixteenth of its size: the
    * same plan every run, so a slow reading flags a contended machine. The
    * first repetition only warms up.
    */
  def calibrate(spark: SparkSession): Seq[Double] = (0 to 2).map { _ =>
    val t0 = System.nanoTime()
    spark.range(0L, 2L * 1024 * 1024, 1L, 16)
      .select((xxhash64(col("id")) % 1048576).as("h"), (col("id") % 256).as("g"))
      .groupBy(col("g")).agg(sum(col("h")).as("s"))
      .agg(sum(col("s")), count(lit(1)))
      .queryExecution.toRdd.count()
    (System.nanoTime() - t0) / 1e9
  }.drop(1)

  def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split("\\s+").take(3).mkString(" ")
    catch { case _: java.io.IOException => "" }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    try scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }
}
