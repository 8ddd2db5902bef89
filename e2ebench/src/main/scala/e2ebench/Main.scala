package e2ebench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One benchmark run: a cold JVM with one local session configured like
  * `graft.Bench`, the calibration probe, then one cold pass of one
  * workload: its fixed sequence of units (scrape batches, corpus
  * queries, commits), each run to completion before the next starts, on
  * one thread.
  *
  * Usage (normally started by run.py):
  *   Main --work DIR --workload W --inputs DIR --out DIR
  *        --trace 0|1 --result FILE
  *
  * The result file holds the pass's raw measurements; run.py reduces
  * them to the reported metrics and checks the outputs under `<out>/data`.
  */
object Main {
  val Cores = 4

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val spark = session(opt("work"))
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    Files.writeString(Paths.get(opt("result")), run(spark, opt, setupS))
    // nothing is left to flush: skip the session's shutdown hooks
    Runtime.getRuntime.halt(0)
  }

  /** Bench's load probe: `spark.range(1e6)` sum plus the entry query
    * (q2), here over the generated calibration tables. */
  def calibrate(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    spark.range(1000000).selectExpr("sum(id * 2)").collect()
    graft.SparkEntry.queries("q2_revenue_by_nation")(spark, dir).count()
    (System.nanoTime() - t0) / 1e9
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Bytes this process has passed to write calls (`wchar`). The
    * block-layer `write_bytes` depends on page-cache writeback timing and
    * read 25% apart between identical runs. */
  private def writeBytes(): Long =
    Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("wchar:") =>
        l.split(":")(1).trim.toLong }.getOrElse(0L)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  /** Heap still in use after full collections: the live set. Each
    * collection lets Spark's cleaner release the blocks of plans it
    * found dead (its thread wakes as soon as one is queued), so
    * collect until the reading settles. On a busy host the cleaner can
    * lag a collection by more than `pauseMs`. A reading can only be too
    * high, so a `patient` probe takes all `rounds` and keeps the lowest. */
  private def liveHeap(rounds: Int = 4, pauseMs: Long = 50,
      patient: Boolean = false): Long = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, cur, n) = (Long.MaxValue, used(), 1)
    while (n < rounds && (patient || cur < prev - (prev >> 6).min(1L << 20))) {
      Thread.sleep(pauseMs)
      prev = cur
      cur = used().min(prev)
      n += 1
    }
    cur
  }

  private def run(spark: SparkSession, opt: Map[String, String],
      setupS: Double): String = {
    val inputs = opt("inputs")
    val out = Paths.get(opt("out")).resolve("data")
    val trace = opt("trace") == "1"
    val calibS = calibrate(spark, s"$inputs/calib")
    val tracer = new Tracer(spark)
    val workloads: Seq[Workload] = opt("workload") match {
      case "lifecycle_feed" =>
        Seq(new Lifecycle(spark, tracer, inputs), new Feed(spark, tracer, inputs))
      case "curation_corpus" => Seq(new Curation(tracer, inputs))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val errors = mutable.ArrayBuffer.empty[String]
    val meter = new Meter(spark)
    if (trace) { meter.attach(); tracer.meter = Some(meter) }
    // one cold pass; its totals sum the units, and the live-heap probe
    // after each unit (a full collection) stays outside them
    var wallS, cpuS = 0.0
    var ioB, heapPeak, gcMs = 0L
    val units = workloads.flatMap(_.units(out.toString)).map { case (name, body) =>
      val io0 = writeBytes()
      val cpu0 = osBean.getProcessCpuTime
      val gc0 = gcMillis()
      val u0 = System.nanoTime()
      val ok =
        try { tracer.layer(s"unit:$name", "unit") { body() }; true }
        catch { case e: Throwable =>
          errors += s"unit $name: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(300)
          false
        }
      val us = (System.nanoTime() - u0) / 1e9
      wallS += us
      cpuS += (osBean.getProcessCpuTime - cpu0) / 1e9
      ioB += writeBytes() - io0
      gcMs += gcMillis() - gc0
      // a reading over the peak so far is checked by a patient probe
      val quick = liveHeap()
      val live =
        if (quick <= heapPeak + (heapPeak >> 4)) quick
        else quick.min(liveHeap(rounds = 5, pauseMs = 250, patient = true))
      heapPeak = heapPeak.max(live)
      s"""{"name":"${Json.esc(name)}","s":$us,"ok":$ok,"live":$live}"""
    }
    val busyS = meter.busySeconds
    if (trace) {
      tracer.meter = None
      meter.detach()
      workloads.foreach(_.traceCounts())
    }
    val spans = meter.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    s"""{"setup_s":$setupS,"calib_s":$calibS,"out":"${Json.esc(out.toString)}",""" +
      s""""wall_s":$wallS,"cpu_s":$cpuS,"write_bytes":$ioB,""" +
      s""""output_bytes":${treeBytes(out)},"heap_live_peak":$heapPeak,""" +
      s""""busy_s":$busyS,"gc_s":${gcMs / 1e3},"units":${units.mkString("[", ",", "]")},""" +
      s""""errors":${errors.map(e => "\"" + Json.esc(e) + "\"").mkString("[", ",", "]")},""" +
      s""""layers":${Json.layers(meter)},"streaming":${Json.streaming(meter)},""" +
      s""""ratios":${Json.obj(workloads.flatMap(_.ratios).toSeq)},""" +
      s""""oracle_sql":${Json.obj(workloads.flatMap(_.oracleQueries).map(q =>
        q -> ("\"" + Json.esc(graft.SparkEntry.oracleSql(q)) + "\"")))},""" +
      s""""spans":${spans.mkString("[", ",", "]")}}"""
  }
}

/** Layer spans and job groups. Untraced passes run the body bare. */
final class Tracer(spark: SparkSession) {
  var meter: Option[Meter] = None
  private var stack = List.empty[Int]
  private var nextId = 0

  /** Run `body` as one call into layer `name`; its Spark jobs count
    * towards `group` (default: the layer itself). */
  def layer[T](name: String, group: String = null)(body: => T): T = meter match {
    case None => body
    case Some(m) =>
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.jobGroup.id")
      val g = Option(group).getOrElse(name)
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      if (g != "unit") sc.setJobGroup(g, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        m.spans += m.Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
        if (prev == null) sc.clearJobGroup()
        else sc.setJobGroup(prev, prev, interruptOnCancel = false)
      }
  }

  /** A registered query as one call into its module: `.build` until the
    * DataFrame returns, `.exec` for writing its result. */
  def query(module: String, name: String, dir: String, out: String): Unit =
    layer(module) {
      val df = layer(s"$module.build", module) {
        graft.SparkEntry.queries(name)(spark, dir)
      }
      layer(s"$module.exec", module) {
        df.coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      }
    }
}

/** A part of a workload: a fixed unit sequence. */
trait Workload {
  /** (unit name, body) in pass order; outputs go under `out`. */
  def units(out: String): Seq[(String, () => Unit)]
  /** Registered queries whose outputs run.py checks against the oracle. */
  def oracleQueries: Seq[String] = Seq.empty
  /** Counts for ratio metrics, taken after a traced pass's timed region. */
  def traceCounts(): Unit = ()
  val ratios = mutable.LinkedHashMap.empty[String, String]
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")

  def layers(m: Meter): String = obj(m.layers.asScala.toSeq.sortBy(_._1).map {
    case (k, a) => k -> obj(Seq("jobs" -> a.jobs, "stages" -> a.stages,
      "tasks" -> a.tasks, "cpu_ns" -> a.cpuNs, "run_ms" -> a.runMs,
      "shuffle_write" -> a.shuffleWrite,
      "spill" -> a.spill).map { case (n, v) => n -> v.toString })
  })

  def streaming(m: Meter): String = obj(Seq("batches" -> m.batches,
    "commits" -> m.commits, "batch_ms" -> m.batchMs,
    "state_rows_peak" -> m.stateRowsPeak, "state_bytes_peak" -> m.stateBytesPeak,
    "late_rows_dropped" -> m.lateRowsDropped).map { case (k, v) => k -> v.toString })
}
