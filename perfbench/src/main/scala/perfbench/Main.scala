package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark harness: drives one workload through the engine's public entry
  * points and writes the raw measurements as JSON for `run.py`, which checks
  * the outputs and derives the reported metrics.
  *
  * Usage: `perfbench.Main workload=<name> fixtures=<dir> work=<dir>
  * seconds=<n> trace=<0|1> cores=<n> out=<result.json> [key=value ...]`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
    val ctx = new Ctx(opts)
    val code =
      try {
        opts("workload") match {
          case "consume" => Consume.run(ctx)
          case "ingest_dedup" => Ingest.run(ctx)
          case "query_mix" => QueryMix.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        ctx.result("peak_rss_mb") = Ctx.peakRssMb
        ctx.writeResult()
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] failed: $e")
          e.printStackTrace()
          1
      } finally ctx.stop()
    System.exit(code)
  }
}

/** Run context: options, the current session with its probes, and the
  * result being assembled. */
final class Ctx(val opts: Map[String, String]) {
  val fixtures: String = opts("fixtures")
  val work: String = opts("work")
  val seconds: Double = opts("seconds").toDouble
  val trace: Boolean = opts("trace") == "1"
  val cores: String = opts("cores")
  def long(k: String): Long = opts(k).toLong

  val result = mutable.LinkedHashMap.empty[String, Any]
  private var session: SparkSession = _
  var jobs: JobProbe = _
  var progress: ProgressProbe = _

  def spark: SparkSession = session

  /** A fresh session (the previous one stopped first) with new probes.
    * Tracing starts off; a measurement switches it on for its window. */
  def newSession(cpus: String = cores): SparkSession = {
    stop()
    session = graft.core.Sessions.get(cpus)
    jobs = new JobProbe(false)
    progress = new ProgressProbe
    session.sparkContext.addSparkListener(jobs)
    session.streams.addListener(progress)
    session
  }

  def stop(): Unit = if (session != null) {
    session.stop()
    session = null
  }

  /** Set up `rounds` times, each on a fresh session, and record every
    * round's wall time: session start plus the workload's warm-up. The
    * measured run then uses the last round's session. */
  def setup(rounds: Int)(warm: Int => Unit): Unit = {
    val rows = (1 to rounds).map { k =>
      stop()
      val stat0 = Ctx.cpuStat
      val t0 = System.nanoTime()
      newSession()
      warm(k)
      val t = Ctx.secondsSince(t0)
      Ctx.log(f"setup round $k%d: $t%.2f s")
      Map("s" -> t, "cpu_stat" -> Ctx.statSince(stat0))
    }
    result("setup_rounds") = rows
  }

  /** Tag every job the block submits (and, through inheritable local
    * properties, every job of a stream it starts) with a phase name. */
  def phase[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.phase", name)
    progress.phase = name
    try body finally sc.setLocalProperty("perfbench.phase", null)
  }

  /** Wait until the progress event of the query's last batch arrived. */
  def awaitProgress(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val last = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
    val runId = q.runId.toString
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (!progress.snapshot.exists(b => b.runId == runId && b.batchId >= last) &&
        System.nanoTime() < deadline) Thread.sleep(10)
  }

  def batchesJson(bs: Seq[BatchRecord]): Seq[Map[String, Any]] = bs.map { b =>
    Map("phase" -> b.phase, "batch_id" -> b.batchId, "start_ms" -> b.startMs,
      "end_ms" -> b.endMs, "durations" -> b.durations,
      "input_rows" -> b.numInputRows, "lag" -> b.lag)
  }

  /** Per-job spans as JSON rows; the nesting is workload → phase →
    * micro-batch (batch_id) or query → job. */
  def spansJson(): Seq[Map[String, Any]] = {
    jobs.drained()
    jobs.spans.map { j =>
      Map("job" -> j.id, "phase" -> j.phase, "query" -> j.query,
        "batch_id" -> j.batchId, "call_site" -> j.callSite,
        "frame" -> j.graftFrame, "sql" -> j.sqlKind,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs,
        "stages" -> j.stagesDone.get, "task_ms" -> j.taskMs.get,
        "shuffle_bytes" -> j.shuffleBytes.get, "spill_bytes" -> j.spillBytes.get)
    }
  }

  def writeResult(): Unit =
    Files.write(Paths.get(opts("out")),
      Ctx.json(result).getBytes(StandardCharsets.UTF_8))
}

object Ctx {
  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secondsSince(t0))
  }

  /** Median of `reps` timings of `body`. */
  def medianTime(reps: Int)(body: => Unit): Double = {
    val ts = (1 to reps).map(_ => time(body)._2).sorted
    ts(ts.size / 2)
  }

  /** The process's high-water resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** CPU time the whole process has used (all threads, user + system). */
  def processCpuNs: Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** The all-CPU line of /proc/stat: jiffies spent user, nice, system,
    * idle, iowait, irq, softirq and steal (time the hypervisor ran
    * something else while this machine's CPUs wanted to run). */
  def cpuStat: Seq[Long] = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().split("\\s+").toSeq.slice(1, 9).map(_.toLong)
    finally f.close()
  }

  def statSince(stat0: Seq[Long]): Seq[Long] =
    cpuStat.zip(stat0).map { case (a, b) => a - b }

  /** Live heap after a full collection, in MB. The second collection
    * runs after Spark's context cleaner has dropped what the first freed. */
  def liveHeapMb: Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
  }

  def json(v: Any): String = v match {
    case null | None => "null"
    case s: String => graft.core.Json.str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case Some(x) => json(x)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${graft.core.Json.str(k.toString)}:${json(x)}" }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case x => graft.core.Json.str(x.toString)
  }
}
