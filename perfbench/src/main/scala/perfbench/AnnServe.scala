package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.datax.Similarity
import graft.functions.{AdcLookup, DotProduct, MinSqDist, NearestCentroid, PqCodes}

import perfbench.Gen._

/** ann_serve: an IVF-PQ index built once (in set-up), then `Rounds`
  * rounds of one shard append followed by a `Rounds`-th of the run's
  * single-query searches. Appends and searches are a fixed schedule, so
  * every run times the same calls on the same index sizes. After the
  * rounds a batch search of held-out queries gives recall@10 against the
  * exact top-10, which the benchmark computes itself over everything
  * indexed. */
object AnnServe {
  val NBase = 4000
  val ShardSize = 250
  val NQueries = 400
  val TopK = 10
  val NProbe = 4
  val NCentroids = 16
  val WarmupQueries = 4
  /** The warm-up appends one shard after every `WarmupQueries / 2` queries. */
  val WarmupAppends = 2
  val Rounds = 4
  /** A search's typical time on a 4-core machine: the searches of a run
    * are `--seconds` of them at this pace. */
  val NominalQueryMs = 850.0
  val NShards = WarmupAppends + Rounds
  /** Held-out queries of the end-of-run recall probe (one batch search). */
  val RecallQueries = 200
  /** Probe recall@10 below this fails the run, so an index change cannot
    * trade recall for speed unnoticed. At the time of writing the probe
    * measures 0.617-0.694 over seeds 1-20 (mean 0.650, sd 0.018; a seed
    * repeats within about 0.015, as the index build is not bit-stable
    * across runs); the floor sits 3.4 sd under the mean. */
  val RecallFloor = 0.59
  /** Traced and untraced searches paired for the tracing overhead. */
  val OverheadPairs = 4

  val schema: StructType = StructType(Seq(StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))

  def frame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(vs.map { case (i, v) => Row(i, v.toSeq) }.asJava, schema)

  final case class State(data: Vectors, dir: String)

  def setup(h: Harness, dir: String): State = {
    val data = Gen.vectors(h.seed, NBase, NShards, ShardSize, NQueries)
    val base = frame(h.spark, data.base)
    h.tracer.call("datax.Similarity.pqIndexWrite") {
      Similarity.pqIndexWrite(base, s"$dir/index", nCentroids = NCentroids)
    }
    State(data, s"$dir/index")
  }

  private def sqDist(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i).toDouble - b(i); s += d * d; i += 1 }
    s
  }

  /** Exact top-k by squared L2 distance, ties by id. */
  def exactTopK(indexed: Seq[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    indexed.map { case (i, v) => (sqDist(v, q), i) }.sorted.take(k).map(_._2)

  /** One single-query search, collected. */
  def search(h: Harness, st: State, qid: Long, qv: Array[Float]): Array[Row] =
    h.tracer.call("datax.Similarity.ivfPqTopK") {
      Similarity.ivfPqTopK(h.spark, st.dir, frame(h.spark, Seq((qid, qv))), k = TopK,
        nProbe = NProbe).collect()
    }

  /** Recall@k of one batch search over the first `RecallQueries` held-out
    * queries; every returned id must be indexed. The queries sit around
    * base families, so appended shards do not change the figure. */
  def probeRecall(h: Harness, st: State, indexed: Seq[(Long, Array[Float])]): Double = {
    val qs = st.data.queries.take(RecallQueries)
    val rows = Similarity.ivfPqTopK(h.spark, st.dir, frame(h.spark, qs), k = TopK,
      nProbe = NProbe).collect()
    val known = indexed.iterator.map(_._1).toSet
    Check(rows.forall(r => known(r.getAs[Long]("id"))), "recall probe returned ids not in the index")
    val got = rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("id")).toSet }
    val hits = qs.map { case (qid, qv) =>
      exactTopK(indexed, qv, TopK).count(got.getOrElse(qid, Set.empty[Long]))
    }.sum
    hits.toDouble / (qs.size * TopK)
  }

  /** The appended shards whose query finds none of the shard's vectors:
    * one batch search with one query around a family of each shard. */
  def missedShards(h: Harness, st: State, appended: Int): Seq[Int] = {
    val qs = st.data.shardQueries.take(appended)
    val rows = Similarity.ivfPqTopK(h.spark, st.dir, frame(h.spark, qs), k = TopK,
      nProbe = NProbe).collect()
    val hits = rows.map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("id")).groupBy(_._1)
    qs.indices.filterNot { s =>
      val ids = st.data.shards(s).map(_._1).toSet
      hits.getOrElse(qs(s)._1, Array.empty[(Long, Long)]).exists(x => ids(x._2))
    }
  }

  def run(h: Harness): Measured = {
    val st = h.setup(3)(dir => setup(h, dir))
    val indexed = mutable.ArrayBuffer.empty[(Long, Array[Float])] ++= st.data.base
    val op = mutable.ArrayBuffer.empty[Double]
    val aux = mutable.ArrayBuffer.empty[Double]
    var shards = 0
    var queries = 0
    def query(measure: Boolean): Unit = {
      queries += 1
      val (qid, qv) = st.data.queries((queries - 1) % NQueries)
      h.op("query")(search(h, st, qid, qv)) { rows =>
        Check.same("ranks", rows.map(_.getAs[Int]("rank")).sorted.toSeq, (1 to TopK).toSeq)
        val known = indexed.iterator.map(_._1).toSet
        Check(rows.forall(r => known(r.getAs[Long]("id"))), s"query $qid returned ids not in the index")
      }.foreach { case (_, ms) => if (measure) op += ms }
    }
    def append(measure: Boolean): Unit = {
      val shard = st.data.shards(shards)
      shards += 1
      h.op("append") {
        h.tracer.call("datax.Similarity.pqIndexAppend") {
          Similarity.pqIndexAppend(h.spark, st.dir, frame(h.spark, shard))
        }
      }(_ => ()).foreach { case (_, ms) =>
        indexed ++= shard
        if (measure) aux += ms
      }
    }
    (1 to WarmupQueries).foreach { i =>
      query(measure = false)
      if (i % (WarmupQueries / WarmupAppends) == 0) append(measure = false)
    }
    h.heapCheckpoint()
    (0 until Rounds).foreach { _ =>
      append(measure = true)
      (0 until h.opsFor(NominalQueryMs, 1.0 / Rounds)).foreach(_ => query(measure = true))
    }
    h.heapCheckpoint()
    var recall = 0.0
    h.finalCheck("recall") {
      recall = probeRecall(h, st, indexed.toSeq)
      h.note(f"recall@$TopK over $RecallQueries queries: $recall%.4f")
      Check(recall >= RecallFloor, f"recall@$TopK $recall%.4f below $RecallFloor")
    }
    h.finalCheck("appended shards") {
      val missed = missedShards(h, st, shards)
      Check(missed.isEmpty, s"no hit inside the queried shard for shards $missed")
    }
    h.finalCheck("index rows") {
      Check.same("index rows", h.spark.read.parquet(s"${st.dir}/codes.parquet").count(),
        indexed.size.toLong)
    }
    if (h.tracer.enabled) {
      h.layer("datax.Similarity.ivfPqTopK.recall_at_10") = recall
      h.tracingCost("query", st.data.queries.take(OverheadPairs).map { case (qid, qv) => () =>
        search(h, st, qid, qv)
        ()
      })
      h.tracer.settle()
      val counters = h.tracer.counters()
      val qs = h.tracer.allSpans.filter(_.name == "datax.Similarity.ivfPqTopK").map(s => counters(s.id))
      if (qs.nonEmpty)
        h.layer("datax.Similarity.ivfPqTopK.rows_scanned_per_query") =
          Stats.median(qs.map(_.recordsRead.toDouble))
      functionCosts(h, st.data)
    }
    Measured(op.toSeq, aux.toSeq, Nil, op.size.toDouble, op.sum / 1000.0,
      Disk.bytes(st.dir), indexed.size.toLong)
  }

  /** ns/row of each native expression: a noop-sink projection over the
    * ann_serve vectors, net of the same scan with the expression replaced
    * by `size` of its array inputs, which reads them and does O(1) work
    * (median of three timings each). */
  def functionCosts(h: Harness, data: Vectors): Unit = {
    val spark = h.spark
    val reps = 20
    val vs = data.base
    val rows = vs.size.toLong * reps
    val r = Gen.rng(h.seed, 12)
    val dim = vs.head._2.length
    val cvecs = Seq.fill(NCentroids)(Seq.fill(dim)(r.nextGaussian()))
    val cnorms = cvecs.map(c => math.sqrt(c.map(x => x * x).sum))
    val m = 8; val ksub = 16; val dsub = dim / m
    val book = Seq.fill(m)(Seq.fill(ksub)(Seq.fill(dsub)(r.nextGaussian())))
    val lut = Seq.fill(m)(Seq.fill(ksub)(r.nextDouble()))
    val src = frame(spark, vs)
      .crossJoin(spark.range(reps).toDF("rep"))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")).as("vec"))
      .withColumn("codes", PqCodes.codes(col("vec"), book))
      .withColumn("lut", typedLit(lut))
      .cache()
    src.count()
    def time(c: org.apache.spark.sql.Column): Double = {
      val ts = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        src.select(c.as("x")).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      Stats.median(ts)
    }
    val vec = size(col("vec"))
    val adcIn = size(col("codes")) + size(col("lut"))
    Seq(
      ("NearestCentroid.slot", NearestCentroid.slot(col("vec"), cvecs, cnorms), vec),
      ("PqCodes.codes", PqCodes.codes(col("vec"), book), vec),
      ("AdcLookup.adc", AdcLookup.adc(col("codes"), col("lut")), adcIn),
      ("MinSqDist.minSqDist", MinSqDist.minSqDist(col("vec"), cvecs), vec),
      ("DotProduct.dotp", DotProduct.dotp(col("vec"), col("vec")), vec)
    ).foreach { case (n, c, base) =>
      h.layer(s"functions.$n.ns_per_row") = (time(c) - time(base)) / rows
    }
    src.unpersist()
  }
}
