package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.core.{CacheOnce, Sessions}

/** `query_mix`: one client in a closed loop over a fixed list of registry
  * queries. Set-up runs the list on a small warm-up table set; the timed
  * passes run it on the measured table set. Every result is written as
  * parquet so `run.py` can digest it and compare it with the DuckDB oracle. */
object QueryMix {
  def run(ctx: Ctx): Unit = {
    val fx = s"${ctx.fixtures}/query_mix"
    val names = ctx.opts("queries").split(',').toSeq
    val warmRuns = mutable.ArrayBuffer.empty[Map[String, Any]]
    ctx.setup(ctx.opts("setup_rounds").toInt) { k =>
      Sessions.sizeShufflePartitionsFor(ctx.spark, s"$fx/warm")
      names.foreach(n =>
        warmRuns += runQuery(ctx, n, s"$fx/warm", s"${ctx.work}/warm$k/$n") + ("round" -> k))
    }
    ctx.result("warm") = warmRuns.toList
    ctx.result("oracle_sql") = SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }
    Sessions.sizeShufflePartitionsFor(ctx.spark, s"$fx/tables")
    ctx.result("plain") = measure(ctx, fx, names, "plain", traced = false)
    if (ctx.trace) ctx.result("traced") = measure(ctx, fx, names, "traced", traced = true)
  }

  /** One query run as the client sees it: caches dropped first, so every
    * run recomputes its persisted intermediates inside the timed window. */
  private def runQuery(ctx: Ctx, name: String, dataDir: String,
      outDir: String): Map[String, Any] = {
    val spark = ctx.spark
    spark.catalog.clearCache()
    CacheOnce.releaseAll(spark)
    val sc = spark.sparkContext
    sc.setLocalProperty("perfbench.query", name)
    val task0 = ctx.jobs.taskMs.get
    val t0 = System.nanoTime()
    val error =
      try {
        SparkEntry.queries(name)(spark, dataDir).coalesce(1)
          .write.mode("overwrite").parquet(outDir)
        None
      } catch { case e: Throwable => Some(e.toString.take(500)) }
      finally sc.setLocalProperty("perfbench.query", null)
    val wall = Ctx.secondsSince(t0)
    Ctx.log(f"$name%s $wall%.2f s ${error.getOrElse("")}%s")
    ctx.jobs.drained()
    Map("query" -> name, "wall_s" -> wall, "task_ms" -> (ctx.jobs.taskMs.get - task0),
      "out" -> outDir, "error" -> error)
  }

  /** Timed passes until `seconds` have elapsed (at least `min_passes`). */
  private def measure(ctx: Ctx, fx: String, names: Seq[String], tag: String,
      traced: Boolean): Map[String, Any] = {
    ctx.jobs.trace = traced
    val minPasses = ctx.long("min_passes")
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val task0 = ctx.jobs.taskMs.get
    val cpu0 = Ctx.processCpuNs
    val stat0 = Ctx.cpuStat
    val t0 = System.nanoTime()
    ctx.phase("timed") {
      while (passes.size < minPasses || Ctx.secondsSince(t0) < ctx.seconds) {
        val k = passes.size
        val gc0 = Ctx.gcMs
        val (runs, wall) = Ctx.time(names.map(n =>
          runQuery(ctx, n, s"$fx/tables", s"${ctx.work}/$tag/pass$k/$n")))
        passes += Map("pass" -> k, "wall_s" -> wall, "gc_ms" -> (Ctx.gcMs - gc0),
          "queries" -> runs)
      }
    }
    val m = mutable.LinkedHashMap[String, Any]("passes" -> passes.toList,
      "task_ms" -> (ctx.jobs.taskMs.get - task0), "cpu_ns" -> (Ctx.processCpuNs - cpu0),
      "cpu_stat" -> Ctx.statSince(stat0), "live_heap_mb" -> Ctx.liveHeapMb)
    if (traced) {
      m("spans") = ctx.spansJson()
      ctx.jobs.trace = false
    }
    m.toMap
  }
}
