package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.app.{HttpApi, YtQueries}
import graft.ops.{ParquetTableStore, SimilaritySearch, TextAnalysis}

/** serve_archive: independent users in an open loop at two fixed
  * offered rates against a seeded archive store. Each request is timed
  * from its due time, so generator lateness and queueing count; its
  * answer is checked after the clock stops. */
final class Serve(ctx: Ctx) extends Bench.Workload {
  import Serve._
  private val spark = ctx.spark
  private var model: ArchiveModel = _
  private var root: String = _
  private var store: ParquetTableStore = _
  private var oracle: SearchOracle = _
  private var storeStats: Seq[StoreStatsOracle.TableStats] = _
  private var api: HttpApi = _
  private var port = 0
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val json = new ObjectMapper()
  private val phases = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private var midLatencies: Seq[Double] = Seq.empty
  private var terms: IndexedSeq[String] = _
  private val returned = new java.util.concurrent.atomic.AtomicLong

  private def t(name: String): DataFrame =
    ctx.rec.span("ops.store.read")(store.read(spark, name))

  override def setup(dir: String): Unit = {
    model = new ArchiveModel(ctx.seed, Playlists, PerPlaylist, churnShare = 0.1)
    root = s"$dir/store"
    store = new ParquetTableStore(root, io = ctx.io)
    // the archive tables as a cold SyncPipeline run leaves them, committed
    // directly from the connector (sync_archive measures the sync path)
    val remote = new SeededConnector(model, ctx)
    val now = lit(SyncNow).cast("timestamp")
    val pl = store.commit(spark, "playlists", remote.channelPlaylists(spark, model.channel)
      .withColumn("item_count", lit(PerPlaylist)).withColumn("last_updated", now))
    val pv = store.commit(spark, "playlist_videos", remote.playlistContents(spark, pl))
    val scraped = remote.scrapeVideos(spark, pv.select("video_id").distinct())
    store.commit(spark, "videos", scraped.drop("language", "transcript")
      .withColumn("last_scraped_timestamp", now))
    store.commit(spark, "transcripts", scraped.filter(col("transcript").isNotNull)
      .select(col("video_id"), col("language"), col("transcript"), now.as("last_fetched_timestamp")))
    model.markSynced()
  }

  /** Search indexes, catalog and HTTP server over the last store, and
    * the expected answers of the search probes and the store stats. */
  override def finishSetup(): Unit = {
    val docs = synced.filter(_.transcript != null).map(v => v.id -> v.transcript).toSeq
    val centroids = math.max(4, math.sqrt(docs.size.toDouble).toInt)
    oracle = new SearchOracle(docs, VecDim, centroids, Probes)
    val tx = store.read(spark, "transcripts").filter(col("transcript").isNotNull)
    TextAnalysis.bm25BuildIndex(tx, "video_id", "transcript", store)
    // the hybrid side, as the CLI's index-search builds it
    val vecs = TextAnalysis.hashedTfVector(tx, "video_id", "transcript", VecDim)
      .select(xxhash64(col("id").cast("string")).as("id"), col("id").as("video_id"),
        col("embedding"))
    val stored = store.commit(spark, "tx_vectors", vecs)
    val (cb, members) = SimilaritySearch.ivfIndexFrames(stored.select("id", "embedding"),
      "id", "embedding", numCentroids = centroids)
    store.commit(spark, "tx_ivf_codebook", cb)
    store.commit(spark, "tx_ivf_members", members)
    spark.conf.set("spark.sql.catalog.graft", classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.root", root)
    storeStats = StoreStatsOracle.walk(root)
    api = new HttpApi(spark, store)
    port = api.start()
    // search terms: the 60 most frequent words of the seeded vocabulary
    terms = model.words.vocab.take(60).toIndexedSeq
  }

  /** One cycle of the request mix, four at a time, as the clients send it. */
  override def warmUp(): Unit = {
    val pool = Executors.newFixedThreadPool(Clients)
    Deck.zipWithIndex.map { case (k, i) =>
      val kr = new SplittableRandom(-1L - i)
      pool.submit(new Runnable { def run(): Unit = execute(k, kr, -1L)() })
    }.foreach(_.get())
    pool.shutdown()
  }

  override def stop(): Unit = if (api != null) api.stop()

  private def get(path: String): (Int, String) = {
    val resp = http.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def ids(rows: Array[Row], c: String): Seq[String] = rows.map(_.getAs[Any](c).toString).toSeq

  private def nocase(titles: Seq[(String, String)]): Seq[String] =
    titles.sortBy { case (id, t) => (t.toLowerCase, t, id) }.map(_._1)

  /** newest first, nulls last, then id: the order of the search queries */
  private def byRecency(vs: Iterable[Video]): Seq[String] =
    vs.toSeq.sortBy(v => (-v.publishDate.getTime, v.id)).map(_.id)

  private def synced: Iterable[Video] = model.synced.toSeq.map(model.videos)

  /** A (rank, id, score_r) top 10 against expected scores: ranks 1..n,
    * and the top 10 of the scores up to ties. */
  private def ranked(got: Array[Row], scores: Map[String, Double]): Boolean =
    got.map(_.getAs[Int]("rank")).toSeq == (1 to got.length) &&
      SearchOracle.topKMatches(
        got.toSeq.map(x => x.getAs[Any]("id").toString -> x.getAs[Double]("score_r")), scores, 10)

  /** Run one request of `kind`; returns the check of its answer, which
    * counts the request as correct or failed when called. */
  private def execute(kind: String, r: SplittableRandom, req: Long): () => Unit = {
    val rec = ctx.rec
    val pids = model.members.keys.toIndexedSeq
    def check(body: => Boolean): () => Unit = () => ctx.outcome.check(kind)(body)
    kind match {
      case "http_playlists" =>
        val (code, body) = rec.span("app.http.request", req)(get("/api/playlists"))
        check {
          val a = json.readTree(body).elements().asScala.toSeq
          returned.addAndGet(a.size)
          code == 200 && a.map(_.get("playlist_id").asText) ==
            nocase(model.playlistTitle.toSeq) &&
            a.forall(n => n.get("video_count").asLong == model.members(n.get("playlist_id").asText).size)
        }
      case "http_playlist_videos" =>
        val pid = pids(r.nextInt(pids.size))
        val (code, body) = rec.span("app.http.request", req)(get(s"/api/playlists/$pid/videos"))
        check {
          val a = json.readTree(body).elements().asScala.map(_.get("video_id").asText).toSeq
          returned.addAndGet(a.size)
          code == 200 && a == model.members(pid)
        }
      case "http_video" =>
        val vs = model.members(pids(r.nextInt(pids.size)))
        val v = model.videos(vs(r.nextInt(vs.size)))
        val (code, body) = rec.span("app.http.request", req)(get(s"/api/videos/${v.id}"))
        check {
          val n: JsonNode = json.readTree(body)
          returned.incrementAndGet()
          code == 200 && n.get("title").asText == v.title &&
            (v.transcript == null) == (n.get("transcript") == null || n.get("transcript").isNull)
        }
      case "http_store_stats" =>
        val (code, body) = rec.span("app.http.request", req)(get("/api/store/stats"))
        check {
          val a = json.readTree(body).elements().asScala.toSeq
          returned.addAndGet(a.size)
          code == 200 && a.map(_.get("table").asText) == Tables &&
            a.map(n => StoreStatsOracle.TableStats(n.get("table").asText, n.get("head_version").asLong,
              n.get("versions_retained").asInt, n.get("files").asLong, n.get("bytes").asLong)) == storeStats
        }
      case "yt_search_titles" =>
        val q = terms(r.nextInt(terms.size))
        val got = rec.span("app.yt.query", req)(ids(YtQueries.searchTitles(
          t("videos"), t("playlist_videos"), t("playlists"), q).collect(), "video_id"))
        returned.addAndGet(got.size)
        check(got == byRecency(synced.filter(_.title.toLowerCase.contains(q))).take(100))
      case "yt_search_transcripts" =>
        val q = terms(r.nextInt(terms.size))
        val got = rec.span("app.yt.query", req)(ids(YtQueries.searchTranscripts(
          t("transcripts"), t("videos"), q).collect(), "video_id"))
        returned.addAndGet(got.size)
        check(got == byRecency(synced.filter(v =>
          v.transcript != null && v.transcript.toLowerCase.contains(q))).take(50))
      case "yt_summary" =>
        val row = rec.span("app.yt.query", req)(YtQueries.summaryStats(
          t("playlists"), t("videos"), t("transcripts")).collect()).head
        check {
          row.getAs[Long]("total_playlists") == model.members.size &&
            row.getAs[Long]("total_videos") == model.synced.size &&
            row.getAs[Long]("total_transcripts") == synced.count(_.transcript != null)
        }
      case "yt_top_channels" =>
        val got = rec.span("app.yt.query", req)(YtQueries.topChannels(t("videos")).collect())
          .map(r => (r.getAs[String]("author"), r.getAs[Long]("video_count"))).toSeq
        returned.addAndGet(got.size)
        check(got == synced.groupBy(_.author).map { case (a, vs) => (a, vs.size.toLong) }.toSeq
          .sortBy { case (a, n) => (-n, a) }.take(5))
      case "bm25_probe" =>
        val q = Seq(terms(r.nextInt(terms.size)), terms(r.nextInt(terms.size)))
        val got = rec.span("ops.text.bm25_probe", req)(
          TextAnalysis.bm25TopKStored(spark, store, q, 10).collect())
        returned.addAndGet(got.length)
        check(ranked(got, oracle.bm25(q)))
      case "hybrid_probe" =>
        val q = Seq(terms(r.nextInt(terms.size)), terms(r.nextInt(terms.size)))
        val got = rec.span("ops.search.probe", req) {
          import spark.implicits._
          val lex = TextAnalysis.bm25TopKStored(spark, store, q, 10).select(col("id"), col("rank"))
          val qvec = TextAnalysis.hashedTfVector(Seq((-1L, q.mkString(" "))).toDF("id", "text"),
            "id", "text", VecDim)
          val vecs = t("tx_vectors")
          val vec = SimilaritySearch.probeStoredIvf(qvec, vecs.select("id", "embedding"),
            "id", "embedding", t("tx_ivf_codebook"), t("tx_ivf_members"), 10, probes = Probes)
            .join(vecs.select(col("id").as("neighbor_id"), col("video_id")), Seq("neighbor_id"))
            .select(col("video_id").as("id"), col("rank"))
          SimilaritySearch.rrfFuse(Seq(lex, vec), 10).collect()
        }
        returned.addAndGet(got.length)
        check(ranked(got, oracle.hybrid(q, 10)))
      case "catalog_sql" =>
        val pid = pids(r.nextInt(pids.size))
        val n = rec.span("sources.catalog.sql", req)(spark.sql(
          s"SELECT count(*) AS n, count(DISTINCT video_id) AS d FROM graft.playlist_videos " +
            s"WHERE playlist_id = '$pid'").collect()).head
        returned.incrementAndGet()
        check(n.getLong(0) == model.members(pid).size && n.getLong(1) == n.getLong(0))
    }
  }

  /** One open-loop phase: `count` requests offered at `rate` requests/s.
    * A request's parameters (ids, search terms) are drawn from its index,
    * so the seed varies the archive and every run asks the same questions. */
  private def phase(rate: Double, count: Int, kinds: Iterator[String], firstReq: Long): (Map[String, Any], Seq[Double]) = {
    final case class Req(id: Long, dueMs: Double, kind: String, r: SplittableRandom)
    val queue = new LinkedBlockingQueue[Req]()
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val kindOf = new java.util.concurrent.ConcurrentLinkedQueue[(String, Double)]()
    val late = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val doneAt = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val pool = Executors.newFixedThreadPool(Clients)
    @volatile var open = true
    for (_ <- 1 to Clients) pool.submit(new Runnable {
      def run(): Unit = while (open || !queue.isEmpty) {
        val q = queue.poll(20, TimeUnit.MILLISECONDS)
        if (q != null && open) {
          late.add(Clock.nowMs - q.dueMs)
          val verdict =
            try Some(ctx.rec.span("bench.op", q.id)(execute(q.kind, q.r, q.id)))
            catch { case scala.util.control.NonFatal(e) => ctx.outcome.fail(s"${q.kind}: $e"); None }
          val ms = Clock.nowMs - q.dueMs
          lat.add(ms)
          doneAt.add(Clock.nowMs)
          kindOf.add(q.kind -> ms)
          verdict.foreach(_())
        }
      }
    })
    val n = count
    val jvm0 = Bench.jvmTimes()
    val t0 = Clock.nowMs
    var backlogMax = 0
    for (i <- 0 until n) {
      // fixed schedule: request i is due at t0 + i / rate
      val due = t0 + i * 1000.0 / rate
      val wait = due - Clock.nowMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      queue.put(Req(firstReq + i, due, kinds.next(), new SplittableRandom(firstReq + i)))
      backlogMax = math.max(backlogMax, queue.size)
    }
    val endMs = t0 + n * 1000.0 / rate
    while (Clock.nowMs < endMs) Thread.sleep(1)
    val backlogEnd = queue.size
    open = false
    queue.clear() // requests never started are shed, not run
    pool.shutdown()
    pool.awaitTermination(120, TimeUnit.SECONDS)
    val wall = (Clock.nowMs - t0) / 1000.0
    val jvm1 = Bench.jvmTimes()
    val ls = lat.asScala.toSeq
    (Map("rate" -> rate, "offered" -> n, "completed" -> ls.size, "shed" -> backlogEnd,
      "wall_s" -> wall, "window_end_ms" -> endMs, "done_ms" -> doneAt.asScala.toSeq.sorted, "latency_ms" -> ls, "late_ms" -> late.asScala.toSeq,
      "by_kind" -> kindOf.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      "backlog_max" -> backlogMax, "backlog_end" -> backlogEnd,
      "jvm_ms" -> jvm1.zip(jvm0).map { case (a, b) => a - b }), ls)
  }

  /** The request mix as a fixed cycle: each kind's cards spread evenly
    * over the deck (kind k's i-th card sits at (i + 1/2) / weight), so
    * every stretch of requests carries the weights' mix in the same order
    * and the seed varies only the data and the parameters. */
  private val Deck: Seq[String] =
    Kinds.flatMap(k => (0 until Weights(k)).map(i => ((i + 0.5) / Weights(k), k)))
      .sortBy(identity).map(_._2)

  override def measure(seconds: Double, traced: Boolean): Unit = {
    phases.clear(); returned.set(0)
    var req = 0L
    val deckSize = Deck.size
    for ((rate, share) <- Rates.zip(Shares)) {
      // the latency rate offers whole decks, so its latency median is
      // taken over the same request mix in every run
      val n = seconds * share * rate
      val count =
        if (rate == LatencyRate) deckSize * math.max(1, math.round(n / deckSize).toInt)
        else math.max(1, math.round(n).toInt)
      val (p, ls) = phase(rate, count, Iterator.continually(Deck).flatten, req)
      req += p("offered").asInstanceOf[Int]
      phases += p
      if (rate == LatencyRate) midLatencies = ls
    }
  }

  /** Each JSON route through HttpApi and the same query called directly,
    * back to back, so the HTTP layer's own cost is the difference. The
    * direct calls read without spans: store-read metrics are the ops'. */
  override def traceExtras(): Map[String, Any] = {
    val rec = ctx.rec
    val pid = model.members.keys.head
    val vid = model.members(pid).head
    def t(name: String): DataFrame = store.read(spark, name)
    val routeMs = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val routes: Seq[(String, () => Any)] = Seq(
      "/api/playlists" -> (() => YtQueries.playlistsApi(t("playlists"), t("playlist_videos"),
        t("videos")).toJSON.collect()),
      s"/api/playlists/$pid/videos" -> (() => YtQueries.playlistVideosByPosition(
        t("playlist_videos"), t("videos"), t("transcripts"), pid).toJSON.collect()),
      s"/api/videos/$vid" -> (() => YtQueries.videoDetail(t("videos"), t("transcripts"), vid)
        .limit(2).toJSON.collect()))
    for (_ <- 1 to 4; (path, direct) <- routes) {
      val h0 = Clock.nowMs
      rec.span("app.http.route")(get(path))
      val d0 = Clock.nowMs
      rec.span("app.yt.route")(direct())
      routeMs += Map("path" -> path.split('/')(2), "http_ms" -> (d0 - h0), "direct_ms" -> (Clock.nowMs - d0))
    }
    Map("routes" -> routeMs.toSeq)
  }

  override def opLatenciesMs: Seq[Double] = midLatencies

  override def raw: Map[String, Any] = Map(
    "phases" -> phases.toSeq, "slo_ms" -> SloMs, "clients" -> Clients,
    "rows_returned" -> returned.get,
    "sizes" -> Map("playlists" -> model.members.size,
      "memberships" -> model.members.values.map(_.size).sum,
      "videos" -> model.synced.size,
      "transcript_bytes" -> synced.flatMap(v => Option(v.transcript)).map(_.length.toLong).sum,
      "store_tables" -> store.tables.size,
      "store_versions" -> store.tables.flatMap(tb => store.versions(tb)).size))
}

object Serve {
  val Playlists = 30
  val PerPlaylist = 80
  val VecDim = 64
  val SyncNow = "2024-06-01 00:00:00"
  /** IVF cells each hybrid probe visits */
  val Probes = 4
  /** the tables the set-up commits, in /api/store/stats order */
  val Tables = Seq("bm25_postings", "bm25_stats", "playlist_videos", "playlists", "transcripts",
    "tx_ivf_codebook", "tx_ivf_members", "tx_vectors", "videos")
  val Clients = 4
  /** offered rates, requests/s: about 2/5 and 3/2 of what four clients
    * complete at local[4] (the JIT compiler keeps about two cores busy
    * throughout, so the lower rate already loads the CPU); latency is
    * reported at the lower rate, throughput at the top one, where the
    * clients never idle */
  val LatencyRate = 2.0
  val Rates = Seq(LatencyRate, 8.0)
  /** share of the run spent at each rate (the latency one in whole decks) */
  val Shares = Seq(0.7, 0.25)
  val SloMs = 1000.0
  /** cards per kind in one deck of the request mix */
  val Weights: Map[String, Int] = Map(
    "http_playlists" -> 2, "http_playlist_videos" -> 4, "http_video" -> 4,
    "http_store_stats" -> 1, "yt_search_titles" -> 2, "yt_search_transcripts" -> 2,
    "yt_summary" -> 1, "yt_top_channels" -> 1, "bm25_probe" -> 2,
    "hybrid_probe" -> 1, "catalog_sql" -> 2)
  val Kinds: Seq[String] = Weights.keys.toSeq.sorted
}
