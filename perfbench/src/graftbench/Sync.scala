package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.app.SyncPipeline
import graft.ops.{Dedup, ParquetTableStore, Sampling, TextAnalysis}
import graft.streaming.Streams

/** sync_archive: one writer in a closed loop of rounds. A round re-syncs
  * the channel from the seeded connector after remote churn, drains one
  * inbox batch through the bucketed streaming upsert with auto-maintain,
  * appends the new docs to the stored BM25 index and reads everything
  * back, checking it against the connector's and the inbox's state.
  * Each round records the wall-time window of every call that publishes
  * to the store, so commit latency is timed from the calls' boundaries. */
final class Sync(ctx: Ctx) extends Bench.Workload {
  import Sync._
  private val spark = ctx.spark
  private var dir: String = _
  private var model: ArchiveModel = _
  private var inbox: InboxWriter = _
  private var store: ParquetTableStore = _
  private var pipeline: SyncPipeline = _
  private var round = 0
  private val rounds = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var startListing: Seq[Seq[Long]] = Seq.empty
  private var roundMs: Seq[Double] = Seq.empty

  private def now = lit(f"2024-06-${1 + round % 28}%02d 00:00:00").cast("timestamp")

  override def setup(d: String): Unit = {
    dir = d
    round = 0
    model = new ArchiveModel(ctx.seed, Playlists, PerPlaylist, ChurnShare)
    inbox = new InboxWriter(ctx.seed, model.words)
    store = new ParquetTableStore(s"$dir/store", io = ctx.io)
    pipeline = new SyncPipeline(store, new SeededConnector(model, ctx))
    pipeline.syncChannel(spark, model.channel, now)
    model.markSynced()
  }

  /** The corpus side over the last store: first inbox batch and its index. */
  override def finishSetup(): Unit = {
    inbox.drop(spark, s"$dir/stage", s"$dir/inbox", 0, InitialDocs, 0)
    drain()
    TextAnalysis.bm25BuildIndex(store.read(spark, "corpus"), "doc_id", "text", store,
      postingsTable = "corpus_bm25_postings", statsTable = "corpus_bm25_stats")
  }

  private def drain(): Map[String, Any] = {
    val q = Streams.corpusUpsertIngest(spark, s"$dir/inbox", s"$dir/checkpoint", store,
      numBuckets = Buckets, autoMaintain = true)
    try q.awaitTermination(120000) finally q.stop()
    q.exception.foreach(e => throw e)
    val p = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    Map("batches" -> p.size,
      "batch_ms" -> p.map(_.durationMs.asScala.getOrElse("triggerExecution", java.lang.Long.valueOf(0L)).toDouble),
      "rows" -> p.map(_.numInputRows))
  }

  /** One round, so the incremental paths are warm when measuring starts. */
  override def warmUp(): Unit = { oneRound(); rounds.clear() }

  private def listing(): Seq[Seq[Long]] =
    StoreWalk.list(s"$dir/store").map(f => Seq(f.ino, f.bytes, if (f.live) 1L else 0L))

  /** One round; returns its wall time in ms. */
  private def oneRound(): Double = ctx.rec.span("bench.op") {
    val o = ctx.outcome
    val rec = ctx.rec
    // (start, end) of each call that publishes to the store
    val calls = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
    def publishing[T](name: String)(body: => T): T = {
      val c0 = Clock.nowMs
      try rec.span(name)(body) finally calls += Seq(c0, Clock.nowMs)
    }
    round += 1
    val t0 = Clock.nowMs
    val changed = model.churn()
    val report = publishing("app.sync.round")(pipeline.syncChannel(spark, model.channel, now))
    model.markSynced()
    // inbox: drop a batch, drain it, and time until its rows are readable
    val (fresh, rows) = inbox.drop(spark, s"$dir/stage", s"$dir/inbox", round, NewDocs, UpdatedDocs)
    val dropped = Clock.nowMs
    val stream = publishing("streaming.drain")(drain())
    val visible = rec.span("ops.store.read")(store.read(spark, "corpus")
      .filter(col("doc_id").isin(rows.map(_._1): _*)).select("doc_id", "text").collect())
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val lagMs = Clock.nowMs - dropped
    import spark.implicits._
    publishing("ops.text.bm25_append")(TextAnalysis.bm25AppendIndex(
      inbox.docs.filter(d => fresh.contains(d._1)).toSeq.toDF("doc_id", "text"),
      "doc_id", "text", store, postingsTable = "corpus_bm25_postings",
      statsTable = "corpus_bm25_stats"))
    // read the synced rows back (a retained membership keeps its stored
    // position, so memberships compare as (playlist, video) pairs)
    val pv = rec.span("ops.store.read")(store.read(spark, "playlist_videos")
      .select("playlist_id", "video_id").collect())
      .map(r => (r.getString(0), r.getString(1))).toSeq
    val vids = rec.span("ops.store.read")(store.read(spark, "videos").select("video_id").collect())
      .map(_.getString(0)).toSeq
    val corpus = rec.span("ops.store.read")(store.read(spark, "corpus").select("doc_id").collect())
      .map(_.getLong(0)).toSeq
    val stats = rec.span("ops.store.read")(store.read(spark, "corpus_bm25_stats").count())
    val wall = Clock.nowMs - t0
    o.check("memberships equal the remote state")(pv.toSet == model.membershipSet && pv.size == pv.toSet.size)
    o.check("video keys unique and cover members")(vids.size == vids.toSet.size && vids.toSet == model.synced)
    o.check("inbox rows visible with their latest text")(rows.forall { case (id, _) => visible.get(id).contains(inbox.docs(id)) })
    o.check("corpus keys unique and complete")(corpus.size == corpus.toSet.size && corpus.toSet == inbox.docs.keySet)
    o.check("bm25 stats readable")(stats > 0)
    val userBytes =
      changed.toLong * MembershipBytes +
        report.scraped * model.videos.values.headOption.map(v => v.title.length + 200L).getOrElse(200L) +
        rows.map(r => 8L + r._2.length).sum
    rounds += Map("wall_ms" -> wall, "lag_ms" -> lagMs,
      "user_rows" -> (changed.toLong + report.scraped + rows.size), "user_bytes" -> userBytes,
      "added" -> report.added, "removed" -> report.removed, "scraped" -> report.scraped,
      "inbox_rows" -> rows.size, "stream" -> stream, "calls" -> calls.toSeq, "listing" -> listing(),
      "versions_retained" -> StoreWalk.versionsRetained(s"$dir/store"))
    wall
  }

  override def measure(seconds: Double, traced: Boolean): Unit = {
    rounds.clear()
    startListing = listing()
    // closed loop: the next round starts when the previous one ends. The
    // round count is fixed by the run time, not by how fast rounds go, so
    // every run of a given length weighs the same rounds.
    roundMs = Seq.fill(math.max(1, (seconds / RoundSeconds).toInt))(oneRound())
  }

  /** The corpus this store ingests is what gets curated next: each
    * curation stage is timed over a seeded skewed corpus fixture. */
  override def traceExtras(): Map[String, Any] = {
    CorpusFixture.write(spark, s"$dir/curate/fixture", ctx.seed, CurateDocs, CurateVecs)
    curationStages(ctx, s"$dir/curate/fixture", s"$dir/curate/stages")
    Map("curated_docs" -> CurateDocs)
  }

  override def opLatenciesMs: Seq[Double] = roundMs

  override def raw: Map[String, Any] = Map(
    "rounds" -> rounds.toSeq, "start_listing" -> startListing,
    "sizes" -> Map("playlists" -> model.members.size,
      "memberships" -> model.members.values.map(_.size).sum,
      "videos" -> model.synced.size, "corpus_docs" -> inbox.docs.size,
      "corpus_bytes" -> inbox.docs.values.map(_.length.toLong).sum))
}

object Sync {
  val Playlists = 20
  val PerPlaylist = 60
  val ChurnShare = 0.1
  val InitialDocs = 600
  val NewDocs = 60
  val UpdatedDocs = 60
  val Buckets = 8
  /** run seconds per measured round; a round takes 6-8 s at local[4],
    * the rest of the budget goes to set-up and the warm-up round */
  val RoundSeconds = 10.0
  /** playlist id, video id, position */
  val MembershipBytes = 6L + 8L + 4L
  /** documents and vectors of the corpus fixture the traced run curates */
  val CurateDocs = 1000
  val CurateVecs = 400

  /** Each curation stage alone over a corpus fixture, materialized under
    * `out`, so its cost can be attributed: the spans are named after the
    * layer metric they feed. */
  def curationStages(ctx: Ctx, fixture: String, out: String): Unit = {
    val rec = ctx.rec
    val spark = ctx.spark
    def run(name: String)(df: => DataFrame): DataFrame = rec.span(name) {
      val p = s"$out/$name"
      df.write.parquet(p)
      spark.read.parquet(p)
    }
    val docs = Tables.documents(spark, fixture).select(col("doc_id").as("id"), col("text"), col("lang"))
    val cleaned = run("ops.text.clean")(docs.withColumn("text", TextAnalysis.cleanText(col("text"))))
    val en = run("ops.text.langid")(cleaned.withColumn("pred", TextAnalysis.langId(col("text"))))
    val kept = run("ops.text.gopher")(TextAnalysis.gopherFilter(en, "text",
      maxDupTokenPct = 75, maxTopBigramPct = 10, minTokens = 10, maxTokens = 120))
    val scored = run("ops.text.quality")(kept.withColumn("q9",
      round(TextAnalysis.qualityScore(col("text")), 9)))
    run("ops.text.bigram_lm")(TextAnalysis.bigramLmScore(scored, "id", "text"))
    val pairs = run("ops.dedup.minhash")(Dedup.minhashLshPairs(scored, "id", "text",
      shingleLen = 3, numHashes = 32, bands = 8, threshold = 0.6, bucketCap = 1000))
    val best = run("ops.dedup.keep_best")(Dedup.keepBestPerCluster(scored, "id", pairs, col("q9"))
      .withColumn("tok", TextAnalysis.tokenCountWs(col("text")).cast("long")))
    run("ops.dedup.semantic")(Dedup.semanticDedup(Tables.embeddings(spark, fixture)
      .select(col("vec_id").as("id"), col("embedding")), "id", "embedding",
      numCentroids = 16, probes = 2, threshold = 0.9, cellCap = 1000))
    run("ops.sampling.budget")(Sampling.tokenBudgetCap(best, "lang", col("tok"), budget = 1500L,
      Seq(col("q9").desc, col("id").asc)))
  }
}
