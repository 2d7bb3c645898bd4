package perfbench

import scala.util.Random

import graft.ops.CatalogQueries.SearchParams

/** Seeded input generators. Every generator is a pure function of its
  * seed and size arguments: the same arguments give identical values,
  * and the workloads write those values out unchanged. */
object Gen {

  def rng(seed: Long, salt: Long): Random = new Random(seed * 1000003L + salt)

  private val Syllables: IndexedSeq[String] =
    for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"

  /** A fixed vocabulary of lowercase pseudo-words (not seed-dependent). */
  val Words: IndexedSeq[String] = {
    val r = new Random(7L)
    Iterator.continually {
      (0 until 2 + r.nextInt(2)).map(_ => Syllables(r.nextInt(Syllables.size))).mkString
    }.distinct.take(3000).toIndexedSeq
  }

  private val RuSyllables: IndexedSeq[String] =
    for (c <- "бвгдклмнпрст"; v <- "аеиоуя") yield s"$c$v"

  val GenreIds: IndexedSeq[Int] = IndexedSeq(12, 14, 16, 18, 27, 28, 35, 36,
    37, 53, 80, 99, 878, 9648, 10402, 10749, 10751, 10752, 10770)
  val Countries: IndexedSeq[String] =
    IndexedSeq("US", "GB", "FR", "DE", "JP", "KR", "IN", "IT", "ES", "CA", "RU", "BR")
  val Reasons: IndexedSeq[Option[String]] = IndexedSeq(Some("wrong_movie"),
    Some("low_quality"), Some("spoiler"), Some("watermark"), Some(""), None)

  private def cap(w: String): String = w.head.toUpper +: w.tail

  def titleOf(r: Random): String =
    (0 until 1 + r.nextInt(3)).map(_ => cap(Words(r.nextInt(Words.size)))).mkString(" ")

  def ruTitleOf(r: Random): String =
    (0 until 1 + r.nextInt(2)).map { _ =>
      val w = (0 until 2 + r.nextInt(2)).map(_ => RuSyllables(r.nextInt(RuSyllables.size))).mkString
      w.head.toUpper +: w.tail
    }.mkString(" ")

  // ------------------------------------------------------------------
  // catalog_sync: the discover feed as page files, plus lookups, plus
  // the catalog requests
  // ------------------------------------------------------------------

  final case class Frame(path: String, aspectRatio: Double, voteAverage: Double, width: Int)

  /** The per-title attributes the lookups deliver: discover attributes
    * beyond the page files' four fields, details (`countries = None`: no
    * details row, so the sync skips the title), RU title and frames. */
  final case class Attrs(tpe: String, name: Option[String], voteAverage: Double,
      genres: Seq[Int], releaseDate: String, countries: Option[Seq[String]],
      titleRu: Option[String], frames: Seq[Frame]) {
    def year: Int = releaseDate.take(4).toInt
  }

  /** One discover item as the page files carry it; `id = None` is a
    * poisoned item. */
  final case class FeedItem(id: Option[Long], title: String, voteCount: Long,
      popularity: Double) {
    def json: String = {
      val idStr = id.map(_.toString).getOrElse("null")
      s"""{"id":$idStr,"title":"$title","vote_count":$voteCount,"popularity":$popularity}"""
    }
  }

  final case class Feed(pages: IndexedSeq[IndexedSeq[FeedItem]], attrs: Map[Long, Attrs]) {
    def items: IndexedSeq[FeedItem] = pages.flatten
    def ids: IndexedSeq[Long] = attrs.keys.toIndexedSeq.sorted
  }

  /** A catalog title as the synced state holds it: the feed item's latest
    * values joined with the title's attributes. */
  final case class Title(id: Long, item: FeedItem, a: Attrs) {
    def tpe: String = a.tpe
    def animated: Boolean = a.genres.contains(16)
  }

  final case class Report(movieId: Long, framePath: String, contentType: String,
      reason: Option[String])

  val FeedYears: Range = 2000 to 2024

  /** `nPages` pages of `pageSize` items. About 1% of items are poisoned
    * (null id), about 2% repeat an earlier id with new counts, about 5%
    * of ids have no details row, a quarter are tv titles. */
  def feed(seed: Long, nPages: Int, pageSize: Int): Feed = {
    val r = rng(seed, 4)
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val attrs = scala.collection.mutable.Map.empty[Long, Attrs]
    var nextId = 1L
    def newAttrs(i: Long): Attrs = {
      val tv = r.nextDouble() < 0.25
      val y = FeedYears(r.nextInt(FeedYears.size))
      Attrs(if (tv) "tv" else "movie", if (tv) Some(titleOf(r)) else None,
        (10 + r.nextInt(91)) / 10.0, r.shuffle(GenreIds).take(1 + r.nextInt(3)),
        f"$y%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d",
        if (r.nextDouble() < 0.05) None else Some(r.shuffle(Countries).take(1 + r.nextInt(2))),
        if (r.nextBoolean()) Some(ruTitleOf(r)) else None,
        (0 until (if (r.nextDouble() < 0.7) 1 + r.nextInt(4) else 0)).map(k =>
          Frame(s"/f${i}_$k.jpg", 1.5 + r.nextInt(70) / 100.0, r.nextInt(100) / 10.0,
            640 + 320 * r.nextInt(5))))
    }
    val pages = (0 until nPages).map { _ =>
      (0 until pageSize).map { _ =>
        val u = r.nextDouble()
        val id =
          if (u < 0.01) None
          else if (u < 0.03 && seen.nonEmpty) Some(seen(r.nextInt(seen.size)))
          else {
            val i = nextId; nextId += 1; seen += i
            attrs(i) = newAttrs(i)
            Some(i)
          }
        FeedItem(id, titleOf(r), r.nextInt(1000000).toLong, r.nextInt(10000000) / 1000.0)
      }
    }
    Feed(pages, attrs.toMap)
  }

  def reports(seed: Long, feed: Feed): IndexedSeq[Report] = {
    val r = rng(seed, 2)
    feed.ids.filter(feed.attrs(_).frames.nonEmpty).flatMap { i =>
      val a = feed.attrs(i)
      if (r.nextDouble() < 0.3)
        (0 until 1 + r.nextInt(4)).map(_ => Report(i,
          a.frames(r.nextInt(a.frames.size)).path, a.tpe, Reasons(r.nextInt(Reasons.size))))
      else Nil
    }
  }

  /** One catalog request, as the reference's `/movies` and `/frames`
    * endpoints receive it. */
  sealed trait Req
  final case class Search(p: SearchParams) extends Req
  final case class ById(id: Long, tpe: String) extends Req
  final case class ByIds(ids: Seq[Long]) extends Req
  final case class Regex(q: String) extends Req
  final case class Coverage(tpe: String, from: Int, to: Int) extends Req
  final case class ReportStats(movieId: Long) extends Req
  final case class Mark(id: Long, tpe: String, paths: Seq[String]) extends Req

  /** The request type of each template rank, cycling with period 20:
    * 45% search, 20% byId, 10% byIds, 10% title regex, 5% each coverage,
    * report stats and moderation. Fixed, so every seed serves the same
    * mix of request types; the seed picks their parameters. */
  val ReqPattern: IndexedSeq[Int] = IndexedSeq(0, 1, 0, 3, 0, 1, 4, 0, 2, 0,
    1, 0, 5, 0, 3, 1, 0, 2, 6, 0)

  /** `n` distinct request templates over the feed's titles; requests
    * draw templates by Zipf rank. Integer literals are compiled into
    * Spark's generated code, so distinct templates are distinct compiled
    * plans. */
  def catalogTemplates(seed: Long, feed: Feed, reports: IndexedSeq[Report],
                       n: Int): IndexedSeq[Req] = {
    val r = rng(seed, 3)
    val ids = feed.ids
    val reported = reports.map(_.movieId).distinct
    def someId = ids(r.nextInt(ids.size))
    def opt[A](p: Double)(a: => A): Option[A] = if (r.nextDouble() < p) Some(a) else None
    def one(kind: Int): Req = kind match {
      case 0 =>
        val from = opt(0.4)(FeedYears(r.nextInt(FeedYears.size - 5)))
        Search(SearchParams(
          genre = opt(0.5)(GenreIds(r.nextInt(GenreIds.size))),
          country = opt(0.3)(Countries(r.nextInt(Countries.size))),
          isAnimated = opt(0.2)(r.nextBoolean()),
          contentType = opt(0.5)(if (r.nextBoolean()) "movie" else "tv"),
          yearFrom = from,
          yearTo = opt(0.4)(from.getOrElse(FeedYears.start) + 1 + r.nextInt(8)),
          sortBy = Seq("popularity", "vote_average", "vote_count", "release_date")(r.nextInt(4)),
          descending = r.nextDouble() < 0.8,
          skip = 20 * r.nextInt(3),
          limit = Seq(10, 20, 50)(r.nextInt(3))))
      case 1 =>
        // about one lookup in twenty asks for an unknown id: the 404 path
        if (r.nextDouble() < 0.05) ById(ids.last + 1L + r.nextInt(1000), "movie")
        else { val i = someId; ById(i, feed.attrs(i).tpe) }
      case 2 => ByIds(Seq.fill(5 + r.nextInt(16))(someId).distinct)
      case 3 => Regex(Words(r.nextInt(Words.size)))
      case 4 =>
        val from = FeedYears(r.nextInt(FeedYears.size - 5))
        Coverage(if (r.nextDouble() < 0.7) "movie" else "tv", from, from + r.nextInt(6))
      case 5 => ReportStats(reported(r.nextInt(reported.size)))
      case _ =>
        val i = someId
        val own = feed.attrs(i).frames.map(_.path)
        Mark(i, feed.attrs(i).tpe,
          (r.shuffle(own).take(r.nextInt(3)) :+ s"/absent_${r.nextInt(100)}.jpg").distinct)
    }
    val seen = scala.collection.mutable.LinkedHashSet.empty[Req]
    (0 until n).foreach { i =>
      val k = ReqPattern(i % ReqPattern.size)
      Iterator.continually(one(k)).find(seen.add)
    }
    seen.toIndexedSeq
  }

  /** Zipf(s) rank sampler over 0 until n. */
  final class Zipf(n: Int, s: Double, r: Random) {
    private val cdf: Array[Double] = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def next(): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ------------------------------------------------------------------
  // stream_dedup: a text corpus with edited copies
  // ------------------------------------------------------------------

  /** One document; `origin` is the id it was copied from (generator
    * truth, never shown to the program). */
  final case class Doc(id: Long, text: String, split: Int, origin: Option[Long])

  /** `files` x `perFile` documents of 30-50 words. About 20% are copies
    * of an earlier original (same or earlier file): a quarter exact, the
    * rest with one or two words replaced, which keeps their word
    * 4-shingle Jaccard with the original near 0.6-0.9. Each original is
    * copied at most once, so every near-duplicate group is a pair. */
  def corpus(seed: Long, files: Int, perFile: Int): IndexedSeq[Doc] = {
    val r = rng(seed, 5)
    val docs = scala.collection.mutable.ArrayBuffer.empty[Doc]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Int] // indexes in docs
    var nextId = 1L
    for (f <- 0 until files; _ <- 0 until perFile) {
      val id = nextId; nextId += 1
      if (originals.nonEmpty && r.nextDouble() < 0.2) {
        val k = r.nextInt(originals.size)
        val o = docs(originals(k))
        originals(k) = originals.last; originals.remove(originals.size - 1)
        val words = o.text.split(" ")
        if (r.nextDouble() >= 0.25)
          (0 until 1 + r.nextInt(2)).foreach(_ =>
            words(5 + r.nextInt(words.length - 10)) = Words(r.nextInt(Words.size)))
        docs += Doc(id, words.mkString(" "), f, Some(o.id))
      } else {
        originals += docs.size
        docs += Doc(id, Seq.fill(30 + r.nextInt(21))(Words(r.nextInt(Words.size))).mkString(" "),
          f, None)
      }
    }
    docs.toIndexedSeq
  }

  // ------------------------------------------------------------------
  // ann_serve: clustered vectors
  // ------------------------------------------------------------------

  final case class Vectors(base: IndexedSeq[(Long, Array[Float])],
      shards: IndexedSeq[IndexedSeq[(Long, Array[Float])]],
      queries: IndexedSeq[(Long, Array[Float])],
      shardQueries: IndexedSeq[(Long, Array[Float])]) {
    def digest: String = (base ++ shards.flatten ++ queries ++ shardQueries)
      .map { case (i, v) => s"$i:${java.util.Arrays.toString(v)}" }.mkString("\n")
  }

  /** A Gaussian mixture in `dim` dimensions whose components are
    * families of `familySize` vectors, each member with its own noise
    * sigma, uniform in [0.05, 0.5): a query's exact top-10 is the members
    * nearest to it inside a family of more than 10, so recall depends on
    * how finely the index ranks within a neighbourhood.
    * Component means are product-structured: each of the `m` subspaces
    * of a mean is one of `protos` random chunk prototypes, the structure
    * product quantization is built for. Base vectors, append shards
    * (new families), held-out queries around base families (sigma 0.1),
    * and one query per shard around one of that shard's families (query
    * ids never collide with indexed ids). */
  def vectors(seed: Long, nBase: Int, nShards: Int, shardSize: Int,
              nQueries: Int, dim: Int = 64, m: Int = 8, protos: Int = 8,
              familySize: Int = 25): Vectors = {
    val r = rng(seed, 6)
    val dsub = dim / m
    val chunks = Array.fill(m, protos, dsub)(r.nextGaussian())
    def mean(): Array[Double] = (0 until m).flatMap(s => chunks(s)(r.nextInt(protos))).toArray
    def point(c: Array[Double], sigma: Double): Array[Float] =
      c.map(x => (x + sigma * r.nextGaussian()).toFloat)
    def families(n: Int, firstId: Long): (IndexedSeq[(Long, Array[Float])], IndexedSeq[Array[Double]]) = {
      val means = IndexedSeq.fill((n + familySize - 1) / familySize)(mean())
      ((0 until n).map(i => (firstId + i, point(means(i / familySize), 0.05 + 0.45 * r.nextDouble()))),
        means)
    }
    val (base, baseMeans) = families(nBase, 1L)
    val shards = (0 until nShards).map(s => families(shardSize, nBase + 1L + s * shardSize))
    val queries = (1 to nQueries).map(i =>
      (1000000000L + i, point(baseMeans(r.nextInt(baseMeans.size)), 0.1)))
    val shardQueries = shards.zipWithIndex.map { case ((_, means), s) =>
      (2000000000L + s, point(means(r.nextInt(means.size)), 0.1))
    }
    Vectors(base, shards.map(_._1), queries, shardQueries)
  }

  /** SHA-256 of a value's printed form: the byte-identity witness. */
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
