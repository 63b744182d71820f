package graftbench

import java.sql.Date
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.connectors.YouTubeConnector

/** Seeded text: a fixed syllable vocabulary with Zipf-like word
  * popularity, so search terms hit a few to a few hundred rows. */
final class Words(seed: Long) {
  private val syl = Array("ka", "lo", "mi", "ner", "su", "ta", "vo", "ri",
    "den", "pa", "xu", "bel", "cor", "fi", "gam", "hul")
  val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    Array.fill(800)((1 to 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.length))).mkString)
      .distinct
  }
  /** rank r drawn with weight ~ 1/(r+1) */
  def word(r: SplittableRandom): String = {
    val u = r.nextDouble()
    vocab(math.min(vocab.length - 1, (math.pow(vocab.length + 1.0, u) - 1).toInt))
  }
  def text(r: SplittableRandom, n: Int): String = (1 to n).map(_ => word(r)).mkString(" ")
}

final case class Video(id: String, title: String, author: String,
    publishDate: Date, durationSeconds: Int, viewCount: Long,
    language: String, transcript: String)

/** The remote side of a personal YouTube archive, seeded: one channel,
  * `nPlaylists` playlists of `perPlaylist` memberships each, over a
  * growing video universe. `churn()` replaces a fixed share of every
  * playlist's memberships, half with brand-new videos, half with
  * existing ones. All state lives on the driver, so expected answers are
  * computed from it in plain Scala without the engine. */
final class ArchiveModel(seed: Long, val nPlaylists: Int, val perPlaylist: Int,
    val churnShare: Double) {
  val channel = "bench"
  val words = new Words(seed)
  private val rnd = new SplittableRandom(seed)
  private val authors = (0 until 24).map(i => s"Author ${words.vocab(i * 7).capitalize} $i")
  val videos = scala.collection.mutable.LinkedHashMap.empty[String, Video]
  /** playlist id -> member video ids in position order (position = index + 1) */
  val members = scala.collection.mutable.LinkedHashMap.empty[String, Vector[String]]
  val playlistTitle = scala.collection.mutable.LinkedHashMap.empty[String, String]
  /** every video ever synced as a member: the store's `videos` table */
  val synced = scala.collection.mutable.LinkedHashSet.empty[String]

  private def newVideo(): String = {
    val id = f"v${videos.size}%07d"
    val r = rnd.split()
    val author = authors(math.min(authors.size - 1, (math.pow(authors.size + 1.0, r.nextDouble()) - 1).toInt))
    val transcript = if (r.nextInt(20) == 0) null else words.text(r, 30 + r.nextInt(120))
    videos(id) = Video(id, words.text(r, 3 + r.nextInt(4)).capitalize, author,
      new Date(Date.valueOf("2023-01-01").getTime + r.nextInt(700) * 86400000L),
      30 + r.nextInt(3600), r.nextLong(5000000L), "en", transcript)
    id
  }

  locally {
    for (p <- 0 until nPlaylists) {
      val pid = f"PL$p%04d"
      playlistTitle(pid) = s"${words.text(rnd, 2).capitalize} mix $p"
      members(pid) = Vector.fill(perPlaylist)(newVideo())
    }
  }

  /** One round of remote change; returns the number of changed memberships. */
  def churn(): Int = {
    var changed = 0
    for ((pid, vs) <- members.toSeq) {
      val k = math.max(1, (vs.size * churnShare).toInt)
      val drop = (0 until k).map(_ => rnd.nextInt(vs.size)).toSet
      val kept = vs.zipWithIndex.filterNot(x => drop(x._2)).map(_._1)
      val added = (0 until drop.size).map { i =>
        if (i % 2 == 0 || videos.isEmpty) newVideo()
        else videos.keys.drop(rnd.nextInt(videos.size)).head
      }.filterNot(kept.contains).distinct
      members(pid) = kept ++ added
      changed += drop.size + added.size
    }
    changed
  }

  def markSynced(): Unit = members.values.foreach(synced ++= _)

  def membershipSet: Set[(String, String)] =
    members.toSeq.flatMap { case (p, vs) => vs.map(p -> _) }.toSet
}

/** The benchmark's YouTubeConnector: serves the model's current remote
  * state as local DataFrames. Time spent here is the generator's cost. */
final class SeededConnector(model: ArchiveModel, ctx: Ctx) extends YouTubeConnector {

  override def channelPlaylists(spark: SparkSession, channelRef: String): DataFrame =
    ctx.rec.span("connectors") {
      import spark.implicits._
      model.playlistTitle.toSeq.map { case (p, t) =>
        (p, t, s"https://www.youtube.com/playlist?list=$p") }
        .toDF("playlist_id", "title", "url")
    }

  override def playlistContents(spark: SparkSession, playlists: DataFrame): DataFrame =
    ctx.rec.span("connectors") {
      import spark.implicits._
      model.members.toSeq.flatMap { case (p, vs) =>
        vs.zipWithIndex.map { case (v, i) => (p, v, i + 1) } }
        .toDF("playlist_id", "video_id", "position")
        .join(playlists.select("playlist_id"), Seq("playlist_id"), "left_semi")
    }

  override def scrapeVideos(spark: SparkSession, videoIds: DataFrame): DataFrame =
    ctx.rec.span("connectors") {
      import spark.implicits._
      val wanted = videoIds.select("video_id").as[String].collect().toSet
      model.videos.values.filter(v => wanted(v.id)).toSeq.map(v =>
        (v.id, v.title, s"About ${v.title}", v.author, v.publishDate,
          v.durationSeconds, v.viewCount, v.author, "UC" + v.author.hashCode.abs,
          s"https://i.ytimg.com/vi/${v.id}/hq.jpg",
          s"https://www.youtube.com/watch?v=${v.id}", v.language, v.transcript))
        .toDF("video_id", "title", "description", "channel", "publish_date",
          "duration_seconds", "view_count", "author", "channel_id",
          "thumbnail_url", "video_url", "language", "transcript")
    }
}

/** Seeded inbox batches for `Streams.corpusUpsertIngest`: each batch
  * updates a share of existing docs and adds new ones. */
final class InboxWriter(seed: Long, words: Words) {
  private val rnd = new SplittableRandom(seed ^ 0x5eedL)
  /** doc_id -> latest text */
  val docs = scala.collection.mutable.LinkedHashMap.empty[Long, String]

  /** Write one parquet batch under `stage` and move it into `inbox` in
    * one rename; returns (new doc ids, the batch rows). */
  def drop(spark: SparkSession, stage: String, inbox: String, batch: Int,
      nNew: Int, nUpdate: Int): (Seq[Long], Seq[(Long, String)]) = {
    import spark.implicits._
    val existing = docs.keys.toIndexedSeq
    val updates = if (existing.isEmpty) Seq.empty
      else (0 until nUpdate).map(_ => existing(rnd.nextInt(existing.size))).distinct
    val fresh = (0 until nNew).map(i => docs.size.toLong + i)
    val rows = (updates ++ fresh).map(id => id -> words.text(rnd, 20 + rnd.nextInt(80)))
    docs ++= rows
    val staged = f"$stage/batch-$batch%05d"
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(staged)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(staged)).iterator()
      .asScala.find(_.getFileName.toString.endsWith(".parquet")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inbox))
    java.nio.file.Files.move(part, java.nio.file.Paths.get(inbox, f"batch-$batch%05d.parquet"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    (fresh, rows)
  }
}

/** Corpus fixture with the `documents`/`embeddings` schema of the test
  * data and the skew axes of tools/gen_sf1skew.py: Zipf-sized
  * near-duplicate clusters (about 40 % of docs), lognormal lengths, five
  * languages with skewed shares, Zipf-sized embedding clusters. */
object CorpusFixture {
  def write(spark: SparkSession, dir: String, seed: Long, nDocs: Int, nVecs: Int): Unit = {
    import spark.implicits._
    val rnd = new SplittableRandom(seed)
    val stop = Array("a", "the", "of", "and", "to", "in", "is", "on", "for", "with")
    val vocab = (0 until 600).map(i => f"w$i%03d").toArray
    def zipf(a: Double, max: Int): Int = {
      // inverse-CDF draw of a truncated Zipf(a) rank in [1, max]
      val u = rnd.nextDouble()
      math.min(max, math.max(1, math.pow(1 - u, -1.0 / (a - 1)).toInt))
    }
    def lognormalTokens(): Int = {
      val g = { var s = 0.0; for (_ <- 1 to 12) s += rnd.nextDouble(); s - 6 }
      math.max(6, math.min(600, math.exp(4.0 + 0.9 * g).toInt))
    }
    def text(n: Int): Array[String] =
      Array.fill(n)(if (rnd.nextDouble() < 0.35) stop(rnd.nextInt(stop.length))
        else vocab(rnd.nextInt(vocab.length)))
    val texts = new Array[String](nDocs)
    var pos = 0
    while (pos < (nDocs * 0.4).toInt) {
      val size = math.min(zipf(1.6, math.max(2, nDocs / 40)) + 1, nDocs - pos)
      val base = text(lognormalTokens())
      for (j <- 0 until size) {
        texts(pos) =
          if (j == 0 || rnd.nextDouble() < 0.3) base.mkString(" ")
          else {
            val t = base.clone()
            for (_ <- 0 until math.max(1, t.length / 50)) t(rnd.nextInt(t.length)) = vocab(rnd.nextInt(vocab.length))
            t.mkString(" ")
          }
        pos += 1
      }
    }
    while (pos < nDocs) { texts(pos) = text(lognormalTokens()).mkString(" "); pos += 1 }
    // shuffle so clusters are not contiguous in id order
    for (i <- nDocs - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = texts(i); texts(i) = texts(j); texts(j) = t
    }
    val langs = Array("en", "es", "de", "zh", "fr")
    val langCdf = Array(0.55, 0.70, 0.82, 0.92, 1.0)
    val docs = texts.indices.map { i =>
      val u = rnd.nextDouble()
      (i.toLong, texts(i), langs(langCdf.indexWhere(u < _)), s"src${rnd.nextInt(20)}",
        texts(i).length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.parquet(s"$dir/documents.parquet")
    val dim = 64
    val centroids = Array.fill(10, dim)(rnd.nextGaussian().toFloat)
    val vecs = (0 until nVecs).map { i =>
      val label = zipf(1.4, 10) - 1
      (i.toLong, centroids(label).map(c => (c + 0.35 * rnd.nextGaussian()).toFloat).toSeq, label)
    }
    vecs.toDF("vec_id", "embedding", "label").coalesce(1)
      .write.parquet(s"$dir/embeddings.parquet")
  }
}
