package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.streaming.{BatchFiles, DedupStream}

import perfbench.Gen._

/** stream_dedup: continuous near-duplicate ingest. Set-up splits a
  * seeded corpus into batch files with `BatchFiles.write`; each op moves
  * the next file into the watched directory and drains it with
  * `DedupStream.ingestAvailableNow` (one file per trigger), so the index
  * grows batch by batch. A run measures a fixed number of batches. */
object StreamDedup {
  val Files_ = 8
  val PerFile = 150
  val Threshold = 0.5
  val K = 4
  val WarmupOps = 1
  /** A micro-batch's typical time on a 4-core machine: the measured
    * batches of a run are `--seconds` of them at this pace, but at least
    * `MinBatches`, so the median rests on batches spread over the run. */
  val NominalBatchMs = 5000.0
  val MinBatches = 3
  /** Traced and untraced index lookups paired for the tracing overhead. */
  val OverheadPairs = 6

  final case class State(docs: IndexedSeq[Doc], staged: String, src: String,
      index: String, checkpoint: String)

  def setup(h: Harness, dir: String): State = {
    val spark = h.spark
    val docs = Gen.corpus(h.seed, Files_, PerFile)
    val df = spark.createDataFrame(docs.map(d => Row(d.id, d.text, d.split)).asJava,
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("split", IntegerType))))
    val staged = s"$dir/staged"
    BatchFiles.write(df, staged, "split", Files_, keepSplitCol = false)
    State(docs, staged, s"$dir/incoming", s"$dir/index", s"$dir/checkpoint")
  }

  /** The index as a reader sees it, filtered to one document. */
  def lookup(h: Harness, st: State, id: Long): Array[Row] =
    h.tracer.call("streaming.DedupStream.visibleIndex") {
      DedupStream.visibleIndex(h.spark, s"${st.index}/docs")
        .filter(org.apache.spark.sql.functions.col("id") === id).collect()
    }

  /** Word 4-shingles, as the program tokenizes: lowercase, trim, split
    * on single spaces. */
  def shingles(text: String): Set[String] = {
    val toks = text.trim.toLowerCase.split(" ")
    if (toks.length < K) Set.empty
    else toks.sliding(K).map(_.mkString(" ")).filter(_.nonEmpty).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 0.0
    else { val i = (a & b).size.toDouble; i / (a.size + b.size - i) }

  /** The end-of-run index invariants, against the documents ingested:
    * survivors are a subset of them, no normalized text survives twice,
    * and every dropped document has a surviving one with identical text
    * or a Jaccard similarity at or above the threshold. */
  def checkIndex(ingested: Seq[Doc], survivors: Seq[Long]): Unit = {
    val byId = ingested.map(d => d.id -> d).toMap
    val kept = survivors.toSet
    Check.same("survivor ids unique", survivors.size, kept.size)
    Check(kept.subsetOf(byId.keySet), s"survivors not ingested: ${(kept -- byId.keySet).take(5)}")
    val keptDocs = kept.toSeq.map(byId)
    val texts = keptDocs.groupBy(_.text.trim.replaceAll("\\s+", " "))
    Check(texts.forall(_._2.size == 1), "identical text survives twice")
    val sh = keptDocs.map(d => d.id -> shingles(d.text)).toMap
    val inverted = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sh.foreach { case (id, s) => s.foreach(x => inverted.getOrElseUpdate(x, mutable.ArrayBuffer()) += id) }
    ingested.filterNot(d => kept(d.id)).foreach { d =>
      val mine = shingles(d.text)
      val cands = mine.iterator.flatMap(x => inverted.getOrElse(x, Nil)).toSet
      val ok = texts.contains(d.text.trim.replaceAll("\\s+", " ")) ||
        cands.exists(c => jaccard(mine, sh(c)) >= Threshold)
      Check(ok, s"doc ${d.id} dropped without a near-duplicate kept")
    }
  }

  def run(h: Harness): Measured = {
    val st = h.setup(3)(dir => setup(h, dir))
    Files.createDirectories(Paths.get(st.src))
    val op = mutable.ArrayBuffer.empty[Double]
    val aux = mutable.ArrayBuffer.empty[Double]
    val fresh = mutable.ArrayBuffer.empty[Double]
    var docsIn = 0L
    val ingested = mutable.ArrayBuffer.empty[Doc]
    var survivors: Seq[Long] = Nil
    var next = 0
    val phases = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def one(measure: Boolean): Unit = {
      // a traced run traces the warm-up batch and the first measured one,
      // which every run makes: jobs per batch vary with the batch, so the
      // per-batch counters must cover the same batches in every run
      h.tracer.active = next <= WarmupOps
      val f = f"b$next%02d.parquet"
      val mine = st.docs.filter(_.split == next)
      next += 1
      // the file arrives: a rename into the watched directory
      Files.move(Paths.get(st.staged, f), Paths.get(st.src, f), StandardCopyOption.ATOMIC_MOVE)
      ingested ++= mine
      var trace: Seq[StreamingQueryProgress] = Nil
      var callSpan = 0L
      h.op("ingest") {
        h.tracer.call("streaming.DedupStream.ingestAvailableNow") {
          callSpan = h.tracer.current
          DedupStream.ingestAvailableNow(h.spark, st.src, st.index, st.checkpoint,
            "id", "text", k = K, threshold = Threshold, maxFilesPerTrigger = 1,
            onProgress = p => trace = p).collect().map(_.getAs[Long]("id")).toSeq
        }
      } { ids =>
        survivors = ids
        Check.same("micro-batches per file", trace.size, 1)
        Check.same("batch input rows", trace.head.numInputRows, mine.size.toLong)
      }.foreach { case (_, ms) =>
        trace.foreach { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue.toDouble }
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L +
            (d.getOrElse("triggerExecution", 0.0) * 1e6).toLong
          h.tracer.add(callSpan, "streaming.DedupStream.batch",
            java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L, end, Some(p.batchId))
          if (measure) {
            op += d.getOrElse("triggerExecution", 0.0)
            Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")
              .foreach(k => phases.getOrElseUpdate(k, mutable.ArrayBuffer()) += d.getOrElse(k, 0.0))
          }
        }
        if (measure) { aux += ms; docsIn += mine.size }
      }
      // read-your-write: one document this batch kept, looked up in the
      // index as a reader sees it after the commit
      val mineIds = mine.map(_.id).toSet
      survivors.filter(mineIds).lastOption.foreach { id =>
        h.op("fresh_read")(lookup(h, st, id)) { rows =>
          Check.same(s"fresh index lookup $id", rows.map(_.getAs[String]("text")).toSeq,
            mine.filter(_.id == id).map(_.text))
        }.foreach { case (_, ms) => if (measure) fresh += ms }
      }
    }
    (0 until WarmupOps).foreach(_ => one(measure = false))
    h.heapCheckpoint()
    val batches = math.min(Files_ - WarmupOps, math.max(MinBatches, h.opsFor(NominalBatchMs)))
    (0 until batches).foreach(_ => one(measure = true))
    h.tracer.active = true
    h.heapCheckpoint()
    h.finalCheck("index invariants")(checkIndex(ingested.toSeq, survivors))
    if (h.tracer.enabled) {
      def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
      Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms",
        "latestOffset" -> "latest_offset_ms").foreach { case (k, n) =>
        h.layer(s"streaming.DedupStream.batch.$n") = med(phases.getOrElse(k, Nil).toSeq)
      }
      h.tracingCost("fresh_read", survivors.takeRight(OverheadPairs).map { id => () =>
        lookup(h, st, id)
        ()
      })
      h.tracer.settle()
      val counters = h.tracer.counters()
      val batches = h.tracer.allSpans.filter(_.name == "streaming.DedupStream.batch")
      if (batches.nonEmpty)
        h.layer("streaming.DedupStream.batch.input_rows_per_row") =
          batches.map(s => counters(s.id).recordsRead).sum.toDouble / (batches.size * PerFile)
    }
    Measured(op.toSeq, aux.toSeq, fresh.toSeq, docsIn.toDouble, aux.sum / 1000.0,
      Disk.bytes(st.index), survivors.size.toLong)
  }
}
