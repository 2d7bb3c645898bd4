package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.regex.Pattern

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.SyncJob
import graft.ops.{CatalogQueries, MetaSync, Moderation, Reports}
import graft.ops.CatalogQueries.SearchParams

import perfbench.Gen._

/** catalog_sync: the reference's catalog API under its incremental sync.
  * The measured part is `Rounds` rounds. Each starts with a resumed
  * top-votes `SyncJob.run` batch over a discover feed of page files (in
  * one round followed by a `SyncJob.refreshCurrentYear` of a year the
  * warm-up already refreshed, so it updates rows), each sync followed by
  * a read of one id it wrote plus the coverage over the fresh state; then
  * a `Rounds`-th of the run's Zipf-skewed catalog requests (`/movies`,
  * `/frames`, sync status) over that state. Syncs and requests are a
  * fixed schedule, so every run of a seed times the same calls however
  * fast it goes. */
object CatalogSync {
  val FeedPages = 100
  val PageSize = 20
  /** Pages the set-up syncs before the loop starts. */
  val InitialPages = 30
  val BatchPages = 10
  val Rounds = 6
  /** The round whose top-votes sync is followed by a refresh. */
  val RefreshRound = 2
  val RefreshLimit = 100L
  val NTemplates = 600
  val ZipfS = 1.0
  val WarmupOps = 20
  /** A request's typical time on a 4-core machine: the requests of a run
    * are `--seconds` of them at this pace. */
  val NominalRequestMs = 90.0
  /** Traced and untraced requests paired for the tracing overhead. */
  val OverheadPairs = 16
  val TopKey = "top_vote_count_movie"
  require(InitialPages + Rounds * BatchPages <= FeedPages, "the top-votes cursor must stay inside the feed")

  val frameType: StructType = StructType(Seq(
    StructField("path", StringType), StructField("aspect_ratio", DoubleType),
    StructField("vote_average", DoubleType), StructField("width", IntegerType)))

  /** The catalog state's columns (the reference's movie document). */
  val stateSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("_type", StringType),
    StructField("title", StringType), StructField("title_ru", StringType),
    StructField("name", StringType), StructField("popularity", DoubleType),
    StructField("vote_average", DoubleType), StructField("vote_count", LongType),
    StructField("genre_ids", ArrayType(IntegerType)),
    StructField("release_date", StringType), StructField("year", IntegerType),
    StructField("is_animated", BooleanType),
    StructField("country_codes", ArrayType(StringType)),
    StructField("frames", ArrayType(frameType)),
    StructField("incorrect_frames", ArrayType(StringType)),
    StructField("backdrop_path", StringType),
    StructField("created_at", TimestampType), StructField("synced_at", TimestampType),
    StructField("last_popularity_sync_at", TimestampType),
    StructField("last_vote_count_sync_at", TimestampType)))

  private def frameRow(f: Frame): Row = Row(f.path, f.aspectRatio, f.voteAverage, f.width)

  private def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def lookup(spark: SparkSession, path: String, rows: Seq[Row],
                     fields: (String, DataType)*): DataFrame = {
    df(spark, rows, StructType(fields.map { case (n, t) => StructField(n, t) }))
      .coalesce(1).write.parquet(path)
    spark.read.parquet(path)
  }

  // ---------------------------------------------------------------
  // truth: the sync's observable contract, replayed in plain Scala
  // ---------------------------------------------------------------

  /** Page windows, dead letters, the details inner join, last write wins
    * inside a batch, insert/update against the state, the two sync stamps
    * and the cumulative cursors. */
  final class Truth(feed: Feed) {
    val state = mutable.Map.empty[Long, FeedItem]
    val voteStamped = mutable.Set.empty[Long]
    val popStamped = mutable.Set.empty[Long]
    val cursors = mutable.Map.empty[String, (Int, Long, Long)]
    var deadLetters = 0L
    private var liveCache: Option[IndexedSeq[Title]] = None

    /** The titles in the state. */
    def live: IndexedSeq[Title] = liveCache.getOrElse {
      val l = state.toIndexedSeq.sortBy(_._1).map { case (i, it) => Title(i, it, feed.attrs(i)) }
      liveCache = Some(l)
      l
    }
    def title(id: Long, tpe: String): Option[Title] =
      state.get(id).map(Title(id, _, feed.attrs(id))).filter(_.tpe == tpe)

    private val idOrder: Ordering[Option[Long]] = (a, b) => (a, b) match {
      case (None, None) => 0
      case (None, _) => -1 // Spark sorts nulls first ascending
      case (_, None) => 1
      case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
    }
    private def sorted(items: IndexedSeq[FeedItem], key: FeedItem => Double) =
      items.sortWith { (a, b) =>
        if (key(a) != key(b)) key(a) > key(b) else idOrder.compare(a.id, b.id) < 0
      }
    private val topOrder = sorted(feed.items, _.voteCount.toDouble)
    private def yearOrder(y: Int) =
      sorted(feed.items.filter(_.id.exists(i => feed.attrs(i).year == y)), _.popularity)

    /** One run over pages [from, from + n) of `order`: the expected
      * report and the ids the batch wrote. */
    private def apply(key: String, order: IndexedSeq[FeedItem], from: Int, n: Int,
                      voteMode: Boolean): (SyncJob.Report, Seq[Long]) = {
      val rows = order.slice((from - 1) * PageSize, (from - 1 + n) * PageSize)
      val dead = rows.count(_.id.isEmpty).toLong
      val latest = mutable.LinkedHashMap.empty[Long, FeedItem]
      rows.foreach(it => it.id.filter(i => feed.attrs(i).countries.isDefined)
        .foreach(i => latest(i) = it))
      var ins = 0L; var upd = 0L
      latest.foreach { case (i, it) =>
        if (state.contains(i)) upd += 1 else ins += 1
        state(i) = it
        if (voteMode) voteStamped += i else popStamped += i
      }
      liveCache = None
      deadLetters += dead
      val (_, ci, cu) = cursors.getOrElse(key, (0, 0L, 0L))
      val last = from + n - 1
      cursors(key) = (last, ci + ins, cu + upd)
      (SyncJob.Report(key, rows.size.toLong, dead, ins, upd, last), latest.keys.toSeq)
    }

    def nextTopPage: Int = cursors.get(TopKey).map(_._1 + 1).getOrElse(1)

    def topBatch(nPages: Int): (SyncJob.Report, Seq[Long]) =
      apply(TopKey, topOrder, nextTopPage, nPages, voteMode = true)

    def refresh(y: Int): (SyncJob.Report, Seq[Long]) =
      apply(s"years:movie:$y", yearOrder(y), 1,
        ((RefreshLimit + PageSize - 1) / PageSize).toInt, voteMode = false)
  }

  // ---------------------------------------------------------------
  // set-up
  // ---------------------------------------------------------------

  final case class State(feed: Feed, reports: IndexedSeq[Report], refreshYear: Int,
      base: DataFrame, details: DataFrame, ru: DataFrame, reportsDf: DataFrame,
      template: DataFrame, statePath: String, cursorPath: String, deadPath: String,
      truth: Truth) {
    /** A fresh handle on the state, as a server holds one per commit. */
    var movies: DataFrame = _
  }

  def setup(h: Harness, dir: String): State = {
    val spark = h.spark
    val feed = Gen.feed(h.seed, FeedPages, PageSize)
    val reps = Gen.reports(h.seed, feed)
    val pagesDir = Paths.get(s"$dir/pages")
    Files.createDirectories(pagesDir)
    feed.pages.zipWithIndex.foreach { case (items, i) =>
      Files.write(pagesDir.resolve(s"page-${i + 1}.json"),
        items.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    val ids = feed.ids
    val a = feed.attrs
    // one parquet table of per-title lookups; each lookup the sync joins
    // is a projection of it (a missing row is a null column here)
    val titles = lookup(spark, s"$dir/titles", ids.map { i =>
        Row(i, a(i).tpe, a(i).name.orNull, a(i).voteAverage, a(i).genres, a(i).releaseDate,
          a(i).year, a(i).countries.orNull, a(i).titleRu.orNull,
          if (a(i).frames.isEmpty) null else a(i).frames.map(frameRow))
      }, "id" -> LongType, "_type" -> StringType, "name" -> StringType,
      "vote_average" -> DoubleType, "genre_ids" -> ArrayType(IntegerType),
      "release_date" -> StringType, "year" -> IntegerType,
      "country_codes" -> ArrayType(StringType), "title_ru" -> StringType,
      "frames" -> ArrayType(frameType))
    val attrs = titles.select("id", "_type", "name", "vote_average", "genre_ids",
      "release_date", "year")
    // frames ride the details lookup: refreshCurrentYear takes no frames
    // argument, and both sync faces must write the same columns
    val details = titles.filter(col("country_codes").isNotNull)
      .select("id", "country_codes", "frames")
    val ru = titles.filter(col("title_ru").isNotNull).select("id", "title_ru")
    val reportsDf = lookup(spark, s"$dir/reports",
      reps.map(r => Row(r.movieId, r.framePath, r.contentType, r.reason.orNull)),
      "movie_id" -> LongType, "frame_path" -> StringType, "content_type" -> StringType,
      "reason" -> StringType)
    def nul(t: DataType) = lit(null).cast(t)
    val base = spark.read.format("tmdb-pages").option("path", pagesDir.toString)
      .option("pageSize", PageSize.toLong).load()
      .join(attrs, Seq("id"), "left")
      .withColumn("is_animated", nul(BooleanType))
      .withColumn("incorrect_frames", nul(ArrayType(StringType)))
      .withColumn("backdrop_path", nul(StringType))
      .withColumn("created_at", nul(TimestampType)).withColumn("synced_at", nul(TimestampType))
      .withColumn("last_popularity_sync_at", nul(TimestampType))
      .withColumn("last_vote_count_sync_at", nul(TimestampType))
    val refreshYear = FeedYears(Gen.rng(h.seed, 11).nextInt(FeedYears.size))
    val st = State(feed, reps, refreshYear, base, details, ru, reportsDf, df(spark, Nil, stateSchema), s"$dir/state", s"$dir/cursors",
      s"$dir/dead", new Truth(feed))
    val (want, _) = st.truth.topBatch(InitialPages)
    Check.same("initial load report", topBatch(h, st, InitialPages), want)
    st.movies = spark.read.parquet(st.statePath)
    st
  }

  def topBatch(h: Harness, st: State, nPages: Int): SyncJob.Report =
    h.tracer.call("ingest.SyncJob.run") {
      SyncJob.run(h.spark, st.base, st.details, st.ru, st.template,
        st.statePath, st.cursorPath, st.deadPath, cursorKey = TopKey,
        orderBy = Seq(col("vote_count").desc, col("id").asc),
        pageSize = PageSize, nPages = nPages, resume = true)
    }

  def refresh(h: Harness, st: State): SyncJob.Report = {
    val rs = h.tracer.call("ingest.SyncJob.refreshCurrentYear") {
      SyncJob.refreshCurrentYear(h.spark, st.base, st.details, st.ru, st.template,
        st.statePath, st.cursorPath, st.deadPath, col("year"), st.refreshYear,
        limit = RefreshLimit, pageSize = PageSize, resume = false)
    }
    Check.same("refresh reports", rs.size, 1)
    rs.head
  }

  // ---------------------------------------------------------------
  // catalog requests and their truth
  // ---------------------------------------------------------------

  private def sortKey(t: Title, by: String): Either[Double, String] = by match {
    case "popularity" => Left(t.item.popularity)
    case "vote_average" => Left(t.a.voteAverage)
    case "vote_count" => Left(t.item.voteCount.toDouble)
    case "release_date" => Right(t.a.releaseDate)
  }

  /** `CatalogQueries.search` in plain Scala: filter, sort with id
    * tiebreak, skip/limit. */
  def searchTruth(live: Seq[Title], p: SearchParams): Seq[Title] = {
    val kept = live.filter { t =>
      (!p.requireFrames || t.a.frames.nonEmpty) &&
      p.genre.forall(t.a.genres.contains) &&
      p.country.forall(c => t.a.countries.exists(_.contains(c))) &&
      p.isAnimated.forall(_ == t.animated) &&
      p.contentType.forall(_ == t.tpe) &&
      p.yearFrom.filter(_ != 0).forall(y => t.a.releaseDate >= s"$y-01-01") &&
      p.yearTo.filter(_ != 0).forall(y => t.a.releaseDate <= s"$y-12-31")
    }
    val ord: Ordering[Title] = (x, y) => {
      val c = (sortKey(x, p.sortBy), sortKey(y, p.sortBy)) match {
        case (Left(u), Left(v)) => java.lang.Double.compare(u, v)
        case (Right(u), Right(v)) => u.compareTo(v)
        case _ => 0
      }
      val c2 = if (p.descending) -c else c
      if (c2 != 0) c2 else java.lang.Long.compare(x.id, y.id)
    }
    kept.sorted(ord).slice(p.skip, p.skip + p.limit)
  }

  private def matches(q: String, s: Option[String]): Boolean =
    s.exists(Pattern.compile(s"(?i)$q").matcher(_).find())

  private def coverageRows(rows: Array[Row]): Seq[(Int, Long, Long, Long)] =
    rows.toSeq.map(x => (x.getAs[Int]("year"), x.getAs[Long]("total"),
      x.getAs[Long]("with_popularity"), x.getAs[Long]("with_vote_count")))

  private def coverageTruth(t: Truth, tpe: String, from: Int, to: Int,
                            attrs: Map[Long, Attrs]): Seq[(Int, Long, Long, Long)] =
    t.state.keys.toSeq.filter { i => val a = attrs(i); a.tpe == tpe && a.year >= from && a.year <= to }
      .groupBy(attrs(_).year).toSeq.sortBy(_._1).map { case (y, is) =>
        (y, is.size.toLong, is.count(t.popStamped).toLong, is.count(t.voteStamped).toLong)
      }

  /** One request: the library call plus the collect, inside a call span.
    * Returns the row count and the check, which runs after the clock
    * stops. */
  def exec(h: Harness, st: State, req: Req): (Int, () => Unit) = {
    val m = st.movies
    val t = st.truth
    def rowsOf(name: String)(f: => DataFrame): Array[Row] = h.tracer.call(name)(f.collect())
    req match {
      case Search(p) =>
        val rows = rowsOf("ops.CatalogQueries.search")(CatalogQueries.search(m, p))
        (rows.length, () => Check.same(s"search $p",
          rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[String]("_type"),
            r.getAs[String]("title"), r.getAs[Double]("popularity"),
            r.getAs[Double]("vote_average"), r.getAs[String]("release_date"))),
          searchTruth(t.live, p).map(x => (x.id, x.tpe, x.item.title, x.item.popularity,
            x.a.voteAverage, x.a.releaseDate))))
      case ById(id, tpe) =>
        val rows = rowsOf("ops.CatalogQueries.byId")(CatalogQueries.byId(m, id, tpe))
        (rows.length, () => Check.same(s"byId $id/$tpe",
          rows.toSeq.map(r => (r.getAs[Long]("id"), r.getAs[String]("title"),
            r.getAs[Long]("vote_count"))),
          t.title(id, tpe).toSeq.map(x => (x.id, x.item.title, x.item.voteCount))))
      case ByIds(ids) =>
        val rows = rowsOf("ops.CatalogQueries.byIds")(CatalogQueries.byIds(m, ids))
        (rows.length, () => Check.same("byIds", rows.map(_.getAs[Long]("id")).sorted.toSeq,
          ids.filter(t.state.contains).sorted))
      case Regex(q) =>
        val rows = rowsOf("ops.CatalogQueries.titleRegexSearch")(
          CatalogQueries.titleRegexSearch(m, q))
        (rows.length, () => Check.same(s"titleRegexSearch $q",
          rows.map(_.getAs[Long]("id")).sorted.toSeq,
          t.live.filter(x => matches(q, Some(x.item.title)) || matches(q, x.a.titleRu))
            .map(_.id)))
      case Coverage(tpe, from, to) =>
        val rows = rowsOf("ops.MetaSync.coverage")(MetaSync.coverage(m, tpe, from, to))
        (rows.length, () => Check.same(s"coverage $tpe $from-$to", coverageRows(rows),
          coverageTruth(t, tpe, from, to, st.feed.attrs)))
      case ReportStats(mid) =>
        val rows = rowsOf("ops.Reports.reportStats")(
          Reports.reportStats(st.reportsDf.filter(col("movie_id") === mid)))
        (rows.length, () => {
          val got = rows.toSeq.map { r =>
            (r.getAs[String]("frame_path"), r.getAs[String]("content_type"),
              r.getAs[Long]("count"), r.getAs[scala.collection.Map[String, Long]]("reasons").toMap)
          }.sortBy(_._1)
          val want = st.reports.filter(_.movieId == mid).groupBy(r => (r.framePath, r.contentType))
            .toSeq.map { case ((f, c), rs) =>
              (f, c, rs.size.toLong, rs.flatMap(_.reason).filter(_.nonEmpty)
                .groupBy(identity).map { case (k, v) => k -> v.size.toLong })
            }.sortBy(_._1)
          Check.same(s"reportStats $mid", got, want)
        })
      case Mark(id, tpe, paths) =>
        val rows = rowsOf("ops.Moderation.markIncorrect")(
          Moderation.markIncorrect(m, id, tpe, paths).response)
        (rows.length, () => Check.same(s"markIncorrect $id", rows.toSeq.map(r =>
          (r.getAs[Seq[String]]("present_in_frames").toSet,
            r.getAs[Seq[String]]("not_in_frames").toSet)),
          t.title(id, tpe).toSeq.map { x =>
            val own = x.a.frames.map(_.path).toSet
            (paths.filter(own).toSet, paths.filterNot(own).toSet)
          }))
    }
  }

  // ---------------------------------------------------------------
  // the loop
  // ---------------------------------------------------------------

  def run(h: Harness): Measured = {
    val st = h.setup(3)(dir => setup(h, dir))
    val t = st.truth
    val templates = Gen.catalogTemplates(h.seed, st.feed, st.reports, NTemplates)
    // the rank sequence is the same for every seed: seeds vary the
    // parameters, not the mix of request types
    val zipf = new Gen.Zipf(templates.size, ZipfS, new scala.util.Random(10L))
    val reads, syncs, fresh = mutable.ArrayBuffer.empty[Double]
    var syncItems, syncUseful = 0L
    var returned = 0L

    def request(measure: Boolean, rank: Option[Int] = None): Unit = {
      val req = templates(rank.getOrElse(zipf.next()))
      var check: () => Unit = () => ()
      h.op("request") {
        val (n, c) = exec(h, st, req)
        check = c
        returned += n
      }(_ => check()).foreach { case (_, ms) => if (measure) reads += ms }
    }

    /** One sync and its read-your-write probe. Top-votes runs give the
      * sync metrics; refreshes only their per-layer figures. */
    def sync(isRefresh: Boolean, measure: Boolean): Unit = {
      val (want, wrote) = if (isRefresh) t.refresh(st.refreshYear) else t.topBatch(BatchPages)
      h.op(if (isRefresh) "refresh" else "sync") {
        if (isRefresh) refresh(h, st) else topBatch(h, st, BatchPages)
      }(got => Check.same("sync report", got, want)).foreach { case (rep, ms) =>
        if (measure && !isRefresh) {
          syncs += ms; syncItems += rep.attempted; syncUseful += rep.inserted + rep.updated
        }
      }
      // read-your-write: a new handle on the committed state, the point
      // lookup of one id the batch wrote, and the coverage over it
      wrote.headOption.foreach { id =>
        h.op("fresh_read") {
          st.movies = h.spark.read.parquet(st.statePath)
          val one = h.tracer.call("ops.CatalogQueries.byId") {
            CatalogQueries.byId(st.movies, id, st.feed.attrs(id).tpe).collect()
          }
          val cov = h.tracer.call("ops.MetaSync.coverage") {
            MetaSync.coverage(st.movies, "movie", FeedYears.start, FeedYears.end).collect()
          }
          returned += one.length + cov.length
          (one, cov)
        } { case (one, cov) =>
          val x = t.title(id, st.feed.attrs(id).tpe).get
          Check.same(s"fresh byId $id", one.toSeq.map(r =>
            (r.getAs[String]("title"), r.getAs[Long]("vote_count"), r.getAs[Double]("popularity"))),
            Seq((x.item.title, x.item.voteCount, x.item.popularity)))
          Check.same("fresh coverage", coverageRows(cov),
            coverageTruth(t, "movie", FeedYears.start, FeedYears.end, st.feed.attrs))
        }.foreach { case (_, ms) => if (measure) fresh += ms }
      }
    }

    // warm-up: the most popular templates in rank order, which covers
    // every request type, then the year's first refresh, so the measured
    // refresh updates rows instead of inserting them
    (0 until WarmupOps).foreach(i => request(measure = false, rank = Some(i)))
    sync(isRefresh = true, measure = false)
    h.heapCheckpoint()
    (0 until Rounds).foreach { round =>
      sync(isRefresh = false, measure = true)
      if (round == RefreshRound) sync(isRefresh = true, measure = true)
      (0 until h.opsFor(NominalRequestMs, 1.0 / Rounds)).foreach(_ => request(measure = true))
    }
    h.heapCheckpoint()
    h.finalCheck("cursors") {
      t.cursors.foreach { case (k, (page, ins, upd)) =>
        Check.same(s"cursor $k", SyncJob.CursorStore.get(h.spark, st.cursorPath, k),
          Some(SyncJob.Cursor(k, page, ins, upd)))
      }
    }
    h.finalCheck("dead letters") {
      Check.same("dead-letter rows", h.spark.read.parquet(st.deadPath).count(), t.deadLetters)
    }
    h.finalCheck("state rows") {
      Check.same("state rows", h.spark.read.parquet(st.statePath).count(), t.state.size.toLong)
    }
    if (h.tracer.enabled) {
      h.layer("ops.rows_returned") = returned.toDouble
      layerFigures(h, syncItems, syncUseful, syncs.size.toLong * BatchPages)
      h.tracingCost("request", templates.take(OverheadPairs).map(req => () => { exec(h, st, req); () }))
    }
    Measured(reads.toSeq, syncs.toSeq, fresh.toSeq, syncItems.toDouble, syncs.sum / 1000.0,
      Disk.bytes(st.statePath) + Disk.bytes(st.cursorPath) + Disk.bytes(st.deadPath),
      t.state.size.toLong)
  }

  /** Ratios over the measured top-votes `SyncJob.run` calls (the only
    * runs outside set-up). */
  private def layerFigures(h: Harness, items: Long, useful: Long, pages: Long): Unit = {
    h.tracer.settle()
    val counters = h.tracer.counters()
    val setupIds = h.tracer.allSpans.filter(_.name == "setup").map(_.id).toSet
    val runs = h.tracer.allSpans
      .filter(s => s.name == "ingest.SyncJob.run" && !setupIds(s.parent)).map(s => counters(s.id))
    if (items > 0) {
      h.layer("ingest.SyncJob.run.input_rows_per_item") = runs.map(_.recordsRead).sum.toDouble / items
      h.layer("ingest.SyncJob.run.output_bytes_per_item") = runs.map(_.outputBytes).sum.toDouble / items
      h.layer("ingest.SyncJob.run.useful_ratio") = useful.toDouble / items
    }
    if (pages > 0)
      h.layer("sources.PagedSource.pages_read_per_page_synced") =
        runs.map(_.sourcePartitions).sum.toDouble / pages
  }
}
