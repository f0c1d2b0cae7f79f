package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.app.ConsumeApp
import graft.sources.shardsim.{ShardSim, ShardSimPartitionReader}

/** `consume`: ConsumeApp drains a pre-written backlog with
  * `Trigger.AvailableNow` (catch-up), then restarts on the same checkpoint
  * with the default trigger while a separate generator process appends to
  * the shard files at a fixed rate (tail). */
object Consume {
  def run(ctx: Ctx): Unit = {
    val fx = s"${ctx.fixtures}/consume"
    val batch = ctx.long("batch")
    ctx.setup(ctx.opts("setup_rounds").toInt) { k =>
      val dir = s"${ctx.work}/warm$k"
      ConsumeApp.run(ctx.spark, s"$fx/warm", s"$dir/out", s"$dir/ckpt",
        Trigger.AvailableNow(), Some(batch)).awaitTermination()
    }
    ctx.result("plain") = measure(ctx, fx, batch, "plain", traced = false)
    if (ctx.trace) {
      ctx.result("traced") = measure(ctx, fx, batch, "traced", traced = true)
      ctx.result("layers") = layerCalls(ctx, s"$fx/shards_traced")
      ctx.result("local1_catchup_s") = localOneBaseline(ctx, fx, batch)
    }
  }

  private def measure(ctx: Ctx, fx: String, batch: Long, tag: String,
      traced: Boolean): Map[String, Any] = {
    val spark = ctx.spark
    val shards = s"$fx/shards_$tag"
    val out = s"${ctx.work}/$tag/out"
    val ckpt = s"${ctx.work}/$tag/ckpt"
    ctx.jobs.trace = traced
    val task0 = ctx.jobs.taskMs.get
    val cpu0 = Ctx.processCpuNs
    val stat0 = Ctx.cpuStat
    val (q1, catchupS) = ctx.phase("catchup") {
      Ctx.time {
        val q = ConsumeApp.run(spark, shards, out, ckpt, Trigger.AvailableNow(),
          Some(batch))
        q.awaitTermination()
        q
      }
    }
    Ctx.log(f"$tag%s catch-up: $catchupS%.2f s")
    ctx.awaitProgress(q1)
    ctx.jobs.drained()
    val catchupTaskMs = ctx.jobs.taskMs.get - task0
    val catchupStat = Ctx.statSince(stat0)
    val tailStat0 = Ctx.cpuStat
    val q2 = ctx.phase("tail") {
      val q = ConsumeApp.run(spark, shards, out, ckpt, Trigger.ProcessingTime(0L),
        Some(batch))
      awaitIdle(q)
      val gen = new ProcessBuilder(ctx.opts("python"), ctx.opts("tailgen"),
          s"$fx/tail.json", shards, s"${ctx.work}/$tag/tailgen.json")
        .redirectErrorStream(true)
        .redirectOutput(new File(s"${ctx.work}/$tag/tailgen.log"))
        .start()
      try {
        if (!gen.waitFor(120, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException("tail generator did not finish")
        if (gen.exitValue() != 0)
          throw new IllegalStateException(s"tail generator exited ${gen.exitValue()}")
      } finally if (gen.isAlive) { gen.destroyForcibly(); gen.waitFor() }
      q.processAllAvailable()
      q.stop()
      q
    }
    ctx.awaitProgress(q2)
    ctx.jobs.drained()
    val runs = Set(q1.runId.toString, q2.runId.toString)
    val m = mutable.LinkedHashMap[String, Any](
      "catchup_s" -> catchupS,
      "catchup_task_ms" -> catchupTaskMs,
      "task_ms" -> (ctx.jobs.taskMs.get - task0),
      "cpu_ns" -> (Ctx.processCpuNs - cpu0),
      "catchup_cpu_stat" -> catchupStat,
      "tail_cpu_stat" -> Ctx.statSince(tailStat0),
      "live_heap_mb" -> Ctx.liveHeapMb,
      "out" -> out,
      "tailgen" -> s"${ctx.work}/$tag/tailgen.json",
      "batches" -> ctx.batchesJson(ctx.progress.snapshot.filter(b => runs(b.runId))))
    if (traced) {
      m("spans") = ctx.spansJson()
      ctx.jobs.trace = false
    }
    m.toMap
  }

  /** Wait until the restarted query has found no data and is polling, so
    * the generator's first records meet a running consumer. */
  private def awaitIdle(q: StreamingQuery): Unit = {
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!q.status.message.startsWith("Waiting for data") &&
        q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Direct reads through the source's partition reader: the first and the
    * last `read_n` records of shard 0, after the tail phase grew it. */
  private def layerCalls(ctx: Ctx, shards: String): Map[String, Any] = {
    val n = ctx.long("read_n")
    val sh = ShardSim.listShards(shards).find(_.shardId == "shard-0").get
    def rps(start: Long): Double = {
      val part = ShardSim.ShardSimInputPartition(
        Seq(ShardSim.ShardRange(sh.shardId, sh.file, start, start + n)))
      val t = Ctx.medianTime(3) {
        val r = new ShardSimPartitionReader(part)
        var c = 0L
        try while (r.next()) { r.get(); c += 1 } finally r.close()
        require(c == n, s"shardsim reader returned $c of $n records")
      }
      n / t
    }
    Map("read_rps_head" -> rps(0L), "read_rps_tail" -> rps(sh.numRecords - n),
      "shard_records" -> sh.numRecords)
  }

  /** The single-threaded baseline: the same catch-up drain on `local[1]`. */
  private def localOneBaseline(ctx: Ctx, fx: String, batch: Long): Double = {
    val spark = ctx.newSession(cpus = "1")
    val dir = s"${ctx.work}/local1"
    Ctx.time {
      ConsumeApp.run(spark, s"$fx/shards_base", s"$dir/out", s"$dir/ckpt",
        Trigger.AvailableNow(), Some(batch)).awaitTermination()
    }._2
  }
}
