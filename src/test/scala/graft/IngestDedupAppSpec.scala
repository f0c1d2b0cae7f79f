package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.app.IngestDedupApp
import graft.llm.TextOps
import graft.sources.shardsim.ShardSimFixture

/** IngestDedupApp with every row-level guard armed at once: the eval
  * guard, the DSIR score guard and the LM perplexity guard. Each arm
  * reads the one materialized admission result, so the routing must
  * partition the admitted docs, and a replay must land the same ids. */
class IngestDedupAppSpec extends SparkSpec {
  import spark.implicits._

  private val perBatch = 12
  private val batches = 3

  // per batch b, ids 12b+1 .. 12b+12:
  //   +1..+5 fluent and on-target        → corpus
  //   +6, +7 off-target vocabulary       → lowvalue/
  //   +8, +9 on-target but disfluent     → lowquality/
  //   +10    copy of an eval document    → contaminated/
  //   +11    copy of +1 (same batch)     → rejected by admission
  //   +12    copy of +8 in batch 0, of doc 2 (landed in batch 0) later
  //                                      → rejected by admission
  private def slot(id: Long): Int = ((id - 1) % perBatch + 1).toInt
  private def batchOf(id: Long): Long = (id - 1) / perBatch
  private val ids = 1L to (perBatch * batches).toLong

  private def text(id: Long): String = slot(id) match {
    case s if s <= 5 => s"alpha beta alpha beta alpha beta w${id}x"
    case 6 | 7 => s"gamma delta gamma delta g${id}z"
    case 8 | 9 => s"beta beta alpha alpha beta beta alpha alpha q${id}y"
    case 10 => (0 until 6).map(t => s"e${id}t$t").mkString(" ")
    case 11 => text(id - 10)
    case _ => if (batchOf(id) == 0) text(id - 4) else text(2L)
  }

  private def expected(lo: Int, hi: Int): Seq[Long] =
    ids.filter(i => slot(i) >= lo && slot(i) <= hi)
  private val corpusIds = expected(1, 5)
  private val lowValueIds = expected(6, 7)
  private val lowQualityIds = expected(8, 9)
  private val contaminatedIds = expected(10, 10)

  private lazy val guards = {
    // DSIR model: the target speaks {alpha, beta}, the background
    // {gamma, delta}
    val dsirRef =
      ((1 to 4).map(i => (i.toLong, "alpha beta alpha beta", "en", "tgt")) ++
        (5 to 12).map(i => (i.toLong, "gamma delta gamma delta", "en", "bg")))
      .toDF("doc_id", "text", "lang", "source")
    val score = IngestDedupApp.ScoreGuard(
      TextOps.dsirWeightTable(dsirRef, targetSource = "tgt"), minLogw = 0.0)
    // reference LM knows only alpha→beta and beta→alpha: a fluent doc
    // scores ≈ 0.74 (one unseen bigram out of six), a disfluent one ≈ 2.9
    TextOps.writeBigramLm((1L to 20L)
      .map(i => (i, "alpha beta alpha beta alpha beta", "en", "s"))
      .toDF("doc_id", "text", "lang", "source"), "lm_ingest_spec")
    val lm = IngestDedupApp.LmGuard("lm_ingest_spec", maxNll = 1.5)
    // the eval set lives in its own id space: matching is by content
    val evalDocs = contaminatedIds.map(i => (900L + i, text(i)))
      .toDF("doc_id", "text")
    (IngestDedupApp.EvalGuard(evalDocs), score, lm)
  }

  private def fixture(): String = {
    val dir = Files.createTempDirectory("ingspec_fixture").toString
    ShardSimFixture.writeShard(dir, 0, ids.zipWithIndex.map { case (id, i) =>
      (s"d$id", 1700000000000000L + i,
        s"""{"doc_id":$id,"text":"${text(id)}"}""")
    })
    dir
  }

  private def start(shards: String, corpus: String, ckpt: String) = {
    val (eval, score, lm) = guards
    IngestDedupApp.run(spark, shards, corpus, ckpt,
      maxRecordsPerBatch = Some(perBatch.toLong),
      evalGuard = Some(eval), scoreGuard = Some(score), lmGuard = Some(lm))
  }

  /** Sorted ids, duplicates kept: a row landed twice shows. */
  private def idList(df: DataFrame): Seq[Long] =
    df.select("doc_id").as[Long].collect().toSeq.sorted

  /** corpus, contaminated/, lowvalue/, lowquality/ ids. */
  private def routed(corpus: String): Seq[Seq[Long]] = Seq(
    idList(IngestDedupApp.corpus(spark, corpus)),
    idList(IngestDedupApp.contaminated(spark, corpus)),
    idList(IngestDedupApp.lowValue(spark, corpus)),
    idList(IngestDedupApp.lowQuality(spark, corpus)))
  private val expectedRouting =
    Seq(corpusIds, contaminatedIds, lowValueIds, lowQualityIds)

  test("all guards armed: every admitted doc lands in exactly one of " +
      "corpus, contaminated/, lowvalue/ and lowquality/") {
    val corpus = Files.createTempDirectory("ingspec_corpus").toString
    start(fixture(), corpus,
      Files.createTempDirectory("ingspec_ckpt").toString).awaitTermination()
    val got = routed(corpus)
    val landed = got.flatten
    assert(landed.distinct.size == landed.size,
      s"a doc landed more than once: $got")
    assert(got == expectedRouting, got.toString)
    assert(IngestDedupApp.quarantine(spark, corpus).isEmpty)
  }

  test("a crash between the contaminated/ write and the corpus write: " +
      "the replayed batch lands the same ids, each once") {
    val shards = fixture()
    val corpus = Files.createTempDirectory("ingspec_corpusR").toString
    val ckpt = Files.createTempDirectory("ingspec_ckptR").toString
    start(shards, corpus, ckpt).awaitTermination()
    val clean = routed(corpus)
    // Roll the last batch back to the state that crash leaves:
    // contaminated/ is written, nothing after it is, and the batch's
    // offsets are logged but not committed, so a restart replays it.
    val last = batches - 1
    assert(new File(s"$ckpt/offsets/$last").exists())
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    (Seq(s"batch_id=$last", s"lowvalue/batch_id=$last",
        s"lowquality/batch_id=$last") ++
      Seq("postings", "docn", "df").map(f => s"index/$f/batch_id=$last"))
      .foreach(d => rm(new File(s"$corpus/$d")))
    Seq(s"$last", s".$last.crc").foreach(f => rm(new File(s"$ckpt/commits/$f")))
    assert(new File(s"$corpus/contaminated/batch_id=$last").exists())
    assert(routed(corpus).head == corpusIds.filter(batchOf(_) < last),
      "fixture: the rolled-back batch must be missing from the corpus")

    start(shards, corpus, ckpt).awaitTermination()
    assert(routed(corpus) == clean)
    assert(clean == expectedRouting, clean.toString)
  }
}
