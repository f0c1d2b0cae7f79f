package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.app.IngestDedupApp
import graft.llm.DedupOps
import graft.operators.QualityOps

/** `ingest_dedup`: IngestDedupApp in its `main()` configuration (the two
  * completeness constraints plus the eval guard) drains a document backlog
  * with planted near-duplicates and NULL texts. */
object Ingest {
  private val gate = Seq(QualityOps.complete("doc_id"), QualityOps.complete("text"))

  def run(ctx: Ctx): Unit = {
    val fx = s"${ctx.fixtures}/ingest"
    val batch = ctx.long("batch")
    // every round restarts on the same warm-up checkpoint after appending
    // its own small batch to the warm-up shards
    val warm = java.nio.file.Paths.get(s"${ctx.work}/warm/shards")
    java.nio.file.Files.createDirectories(warm)
    ctx.setup(ctx.opts("setup_rounds").toInt) { k =>
      new java.io.File(s"$fx/warm_rounds/$k").listFiles().foreach { f =>
        java.nio.file.Files.write(warm.resolve(f.getName),
          java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      }
      drain(ctx.spark, fx, warm.toString, s"${ctx.work}/warm", batch)
    }
    ctx.result("plain") = measure(ctx, fx, batch, "plain", traced = false)
    if (ctx.trace) {
      ctx.result("traced") = measure(ctx, fx, batch, "traced", traced = true)
      ctx.result("layers") = layerCalls(ctx, fx, s"${ctx.work}/traced/corpus")
    }
  }

  private def drain(spark: SparkSession, fx: String, shards: String,
      dir: String, batch: Long): Unit = {
    val guard = IngestDedupApp.EvalGuard(
      spark.read.parquet(s"$fx/eval.parquet").select(col("doc_id"), col("text")))
    IngestDedupApp.run(spark, shards, s"$dir/corpus", s"$dir/ckpt",
      maxRecordsPerBatch = Some(batch), gate = gate,
      evalGuard = Some(guard)).awaitTermination()
  }

  private def measure(ctx: Ctx, fx: String, batch: Long, tag: String,
      traced: Boolean): Map[String, Any] = {
    val dir = s"${ctx.work}/$tag"
    ctx.jobs.trace = traced
    val task0 = ctx.jobs.taskMs.get
    val cpu0 = Ctx.processCpuNs
    val stat0 = Ctx.cpuStat
    val before = ctx.progress.snapshot.size
    val startMs = System.currentTimeMillis()
    val (_, drainS) = ctx.phase("drain") {
      Ctx.time(drain(ctx.spark, fx, s"$fx/shards", dir, batch))
    }
    Ctx.log(f"$tag%s drain: $drainS%.2f s")
    val expected = ctx.long("batches")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (ctx.progress.snapshot.size - before < expected &&
        System.nanoTime() < deadline) Thread.sleep(10)
    ctx.jobs.drained()
    val m = mutable.LinkedHashMap[String, Any](
      "drain_s" -> drainS,
      "start_ms" -> startMs,
      "task_ms" -> (ctx.jobs.taskMs.get - task0),
      "cpu_ns" -> (Ctx.processCpuNs - cpu0),
      "cpu_stat" -> Ctx.statSince(stat0),
      "live_heap_mb" -> Ctx.liveHeapMb,
      "corpus" -> s"$dir/corpus",
      "batches" -> ctx.batchesJson(ctx.progress.snapshot.drop(before)))
    if (traced) {
      m("spans") = ctx.spansJson()
      ctx.jobs.trace = false
    }
    m.toMap
  }

  /** Timed direct calls into the quality and dedup layers on one batch of
    * fresh documents, admitted against the full index the drain built. */
  private def layerCalls(ctx: Ctx, fx: String, corpus: String): Map[String, Any] = {
    val spark = ctx.spark
    val docs = spark.read.parquet(s"$fx/probe_batch.parquet").cache()
    docs.count()
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def frame(name: String) = {
      val root = new java.io.File(s"$corpus/index/$name")
      val dirs = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("batch_id=")).map(_.getPath).sorted
      spark.read.parquet(dirs.toIndexedSeq: _*)
    }
    val (post, docn, dfRows) = (frame("postings"), frame("docn"), frame("df"))
    val out = Map(
      "quality_check_s" -> Ctx.medianTime(3)(QualityOps.check(docs, gate).collect()),
      "dedup_shingle_s" -> Ctx.medianTime(3)(noop(DedupOps.shingleHashes(docs))),
      "dedup_admit_served_s" -> Ctx.medianTime(3)(
        noop(DedupOps.admitBatchServed(post, docn, dfRows, docs, 0.8))))
    docs.unpersist()
    out
  }
}
