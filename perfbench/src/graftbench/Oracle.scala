package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Plain-Scala answers for serve_archive's search probes, computed from
  * the generator's own transcripts: the stored-BM25 top-k, the IVF probe
  * over hashed-TF vectors and their reciprocal-rank fusion. The scoring
  * arithmetic follows the documented formulas operation for operation
  * (StrictMath.log, double accumulators over float vectors, the same
  * summation order), so scores agree with the engine's to rounding;
  * rankings compare as top-k lists up to ties. `docs` are
  * (video id, transcript) pairs; `numCentroids`/`probes` are the IVF
  * index's settings. */
final class SearchOracle(docs: Seq[(String, String)], dim: Int, numCentroids: Int, probes: Int) {
  import SearchOracle._

  /** lower-cased whitespace tokens; none for blank text */
  private def tokens(text: String): Array[String] = {
    val t = text.toLowerCase.trim
    if (t.isEmpty) Array.empty else t.split("\\s+", -1)
  }

  private val bags: Seq[(String, Map[String, Int])] = docs.map { case (id, text) =>
    id -> tokens(text).groupBy(identity).map { case (t, xs) => t -> xs.length } }
  private val dl: Map[String, Long] =
    bags.map { case (id, b) => id -> b.values.sum.toLong }.filter(_._2 > 0).toMap
  private val n = dl.size.toDouble
  private val avgdl = dl.values.sum.toDouble / n
  /** term -> (doc, tf) */
  private val postings: Map[String, Seq[(String, Int)]] =
    bags.flatMap { case (id, b) => b.map { case (t, c) => (t, (id, c)) } }.groupMap(_._1)(_._2)

  /** BM25 score of every doc that holds a query term (k1 1.2, b 0.75) */
  def bm25(query: Seq[String]): Map[String, Double] = {
    val k1 = 1.2
    val b = 0.75
    val contribs = query.map(_.toLowerCase).distinct.flatMap { term =>
      val ps = postings.getOrElse(term, Seq.empty)
      val df = ps.size.toDouble
      val idf = StrictMath.log(1.0 + (n - df + 0.5) / (df + 0.5))
      ps.map { case (id, c) =>
        val tf = c.toDouble
        (id, term, idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * dl(id).toDouble / avgdl)))
      }
    }
    // per doc, contributions fold in term order from 0.0
    contribs.groupBy(_._1).map { case (id, cs) => id -> cs.sortBy(_._2).foldLeft(0.0)(_ + _._3) }
  }

  /** the hashed-TF vector of a text: token counts in xxhash64 slots */
  def vector(text: String): Array[Double] = {
    val v = new Array[Double](dim)
    tokens(text).foreach { t =>
      val h = XXH64.hashUTF8String(UTF8String.fromString(t), 42L)
      v((((h % dim) + dim) % dim).toInt) += 1.0
    }
    v
  }

  private def vecId(videoId: String): Long = XXH64.hashUTF8String(UTF8String.fromString(videoId), 42L)

  private val vecs: Seq[(Long, String, Array[Double])] =
    docs.map { case (id, text) => (vecId(id), id, vector(text)) }
      .filter(_._3.exists(_ != 0.0)).sortBy(_._1)
  /** the sample codebook: the lowest-id vectors */
  private val codebook = vecs.take(numCentroids).map(v => v._1 -> v._3)

  /** cells in (cosine desc, cid asc) order, first `k` */
  private def topCells(v: Array[Double], k: Int): Seq[Long] =
    codebook.map { case (cid, c) => (0.0 - cosine(v, c), cid) }
      .sortWith((a, b) => java.lang.Double.compare(a._1, b._1) match {
        case 0 => a._2 < b._2
        case x => x < 0
      }).take(k).map(_._2)

  private val cellOf: Map[Long, Long] = vecs.map(v => v._1 -> topCells(v._3, 1).head).toMap

  /** The IVF probe's cosine of every candidate in the query's `probes`
    * nearest cells, keyed by video id, with the vector ids that break
    * ties. */
  def ivf(query: String): Seq[(String, Long, Double)] = {
    val q = vector(query)
    val cells = topCells(q, probes).toSet
    vecs.filter(v => cells(cellOf(v._1))).map(v => (v._2, v._1, cosine(q, v._3)))
  }

  /** ranks (1-based) of the top `k` by (score desc, tie key asc) */
  private def ranks[K: Ordering](xs: Seq[(String, K, Double)], k: Int): Map[String, Int] =
    xs.sortWith((a, b) => java.lang.Double.compare(b._3, a._3) match {
      case 0 => Ordering[K].lt(a._2, b._2)
      case x => x < 0
    }).take(k).map(_._1).zipWithIndex.map { case (id, i) => id -> (i + 1) }.toMap

  /** Fused scores of the lexical and the vector top-k (RRF, c = 60),
    * for every id in either list. */
  def hybrid(terms: Seq[String], k: Int): Map[String, Double] = {
    val lex = ranks(bm25(terms).toSeq.map { case (id, s) => (id, id, s) }, k)
    val vec = ranks(ivf(terms.mkString(" ")), k)
    (lex.keySet ++ vec.keySet).map { id =>
      id -> (lex.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0) +
        vec.get(id).map(r => 1.0 / (60.0 + r)).getOrElse(0.0))
    }.toMap
  }
}

object SearchOracle {
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) { ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i); i += 1 }
    ab / math.sqrt(aa * bb)
  }

  /** Whether `got` ((id, score) in rank order) is the top `k` of
    * `scores`, up to ties: every returned score is its id's expected
    * score, and the returned scores are the `k` best expected ones in
    * order. Ids with equal scores are interchangeable. `eps` covers the
    * engine's rounding of scores to 6 decimals. */
  def topKMatches(got: Seq[(String, Double)], scores: Map[String, Double], k: Int,
      eps: Double = 1e-6): Boolean = {
    val want = scores.values.toSeq.sorted(Ordering.Double.TotalOrdering.reverse).take(k)
    got.size == want.size && got.map(_._1).distinct.size == got.size &&
      got.zip(want).forall { case ((id, s), w) =>
        scores.get(id).exists(x => math.abs(x - s) <= eps) && math.abs(s - w) <= eps
      }
  }
}

/** `/api/store/stats` as a walk of the store root finds it: per table
  * directory with a pointer, the head version, the versions kept, and
  * the count and bytes of the live version's data files. */
object StoreStatsOracle {
  final case class TableStats(table: String, head: Long, versions: Int, files: Long, bytes: Long)

  def walk(root: String): Seq[TableStats] = {
    val tables = Files.list(Paths.get(root)).iterator().asScala
      .filter(t => Files.isRegularFile(t.resolve("_CURRENT"))).toSeq
    tables.map { t =>
      val p = new String(Files.readAllBytes(t.resolve("_CURRENT")), "UTF-8").trim.stripPrefix("v=")
      val live = t.resolve(s"v=$p")
      // data files: not hidden (no leading "_" or "."), in the version
      // dir itself or in one of its bucket dirs
      val s = Files.walk(live, 2)
      val parts: Seq[Path] =
        try s.iterator().asScala.filter { f =>
          val name = f.getFileName.toString
          Files.isRegularFile(f) && !name.startsWith("_") && !name.startsWith(".") &&
            (f.getParent == live || f.getParent.getFileName.toString.startsWith("__kb="))
        }.toList
        finally s.close()
      val kept = Files.list(t).iterator().asScala.count(_.getFileName.toString.startsWith("v="))
      TableStats(t.getFileName.toString, p.takeWhile(_ != '-').toLong, kept,
        parts.size.toLong, parts.map(Files.size).sum)
    }.sortBy(_.table)
  }
}
