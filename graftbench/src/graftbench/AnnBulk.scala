package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.hnsw.{HnswIndexer, HnswModel, HnswParams}
import graft.operators.{IvfFlat, IvfPq, KnnJoin}
import graft.sources.VectorSources

/** Shared pieces of the two vector workloads. */
object Ann {
  val K = 10

  /** One answered wave: (query_id, neighbor_id, score, rank) rows. */
  final case class Answer(family: String, metric: String, probeIds: Array[Long], rows: Array[Row])

  def probeDf(ctx: Ctx, ids: Array[Long], vs: Array[Array[Float]]): DataFrame = {
    import ctx.spark.implicits._
    ids.zip(vs).toSeq.toDF("query_id", "query_vec")
  }

  def collect(df: DataFrame): Array[Row] =
    df.select("query_id", "neighbor_id", "score", "rank").collect()

  def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
    else if (f.exists) f.length else 0L

  /** Checks one wave against the exact oracle. Structural errors (wrong
    * row count, duplicate or unknown ids, unsorted or misreported scores)
    * fail the call; for an exact family, so does any missed neighbour.
    * Returns (hits, expected) for recall. */
  def checkWave(a: Answer, exact: Long => Array[(Long, Double)],
      probeVec: Long => Array[Float], vecOf: Long => Option[Array[Float]],
      mustBeExact: Boolean, checks: Checks): (Long, Long) = {
    val byQ = a.rows.groupBy(_.getLong(0))
    var hit = 0L; var want = 0L
    val errs = mutable.ArrayBuffer.empty[String]
    a.probeIds.foreach { q =>
      val rows = byQ.getOrElse(q, Array.empty[Row]).sortBy(_.getInt(3))
      val truth = exact(q)
      val ids = rows.map(_.getLong(1)).toSeq
      if (rows.length != math.min(K, truth.length)) errs += s"q$q: ${rows.length} rows"
      if (ids.distinct.length != ids.length) errs += s"q$q: duplicate neighbours"
      if (rows.map(_.getInt(3)).toSeq != (1 to rows.length)) errs += s"q$q: ranks"
      val scores = rows.map(_.getDouble(2))
      if (scores.toSeq != scores.sorted(Ordering[Double].reverse).toSeq) errs += s"q$q: unsorted"
      rows.foreach { r =>
        vecOf(r.getLong(1)) match {
          case None => errs += s"q$q: unknown id ${r.getLong(1)}"
          case Some(v) =>
            val s = Oracle.sim(a.metric, probeVec(q), v)
            if (math.abs(s - r.getDouble(2)) > 1e-3) errs += s"q$q: score of ${r.getLong(1)}"
        }
      }
      val h = Oracle.hits(ids, truth, id => vecOf(id).map(Oracle.sim(a.metric, probeVec(q), _))
        .getOrElse(Double.NegativeInfinity), 1e-6)
      if (mustBeExact && h < truth.length) errs += s"q$q: exact answer missed ${truth.length - h}"
      hit += h; want += truth.length
    }
    checks.call(s"${a.family} wave", errs.toSeq)
    (hit, want)
  }

  final class Recall {
    val hit = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    val want = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    def add(family: String, hw: (Long, Long)): Unit = { hit(family) += hw._1; want(family) += hw._2 }
    def of(family: String): Double = if (want(family) == 0) 0.0 else hit(family).toDouble / want(family)
    def micro(families: Seq[String]): Double =
      families.map(hit).sum.toDouble / math.max(1L, families.map(want).sum)
  }
}

/** ann_bulk: read raw vectors from disk, fit HNSW, IVF-Flat and IVF-PQ,
  * save and reload HNSW, then serve a few large probe waves through each
  * family and through the exact join. Executor compute dominates. */
final class AnnBulk extends Workload {
  import Ann._

  private case class Size(n: Int, dim: Int, centers: Int, waves: Int, perWave: Int, cells: Int)
  private var size: Size = _
  private var base: Gen.VecSet = _
  private var probes: Array[Array[Float]] = _
  private var waves: Array[(Array[Long], DataFrame)] = _
  private var cosTruth: Array[Array[(Long, Double)]] = _
  private var eucTruth: Array[Array[(Long, Double)]] = _
  private val answers = mutable.ArrayBuffer.empty[Answer]
  private val recall = new Recall
  private var indexBytes = 0L
  private var simPairs = 0L

  private def params(ctx: Ctx) = HnswParams(m = 16, efConstruction = 100,
    numPartitions = ctx.threads, seed = 7L)

  def setup(ctx: Ctx): Unit = {
    size = if (ctx.tiny) Size(600, 16, 4, 2, 8, 4) else Size(2500, 32, 16, 2, 100, 16)
    val mix = Gen.mixture(ctx.seed, size.dim, size.centers)
    base = Gen.vectors(mix, ctx.seed, size.n, 0.02)
    probes = Gen.probes(mix, ctx.seed, size.waves * size.perWave)
    Gen.writeFvecs(ctx.path("base.fvecs"), base.vectors)
    // read back, as the timed path will
    val rows = VectorSources.readFvecs(ctx.spark, ctx.path("base.fvecs")).count()
    require(rows == size.n, s"base.fvecs holds $rows vectors, not ${size.n}")
  }

  def afterSetup(ctx: Ctx): Unit = {
    waves = (0 until size.waves).map { w =>
      val ids = Array.tabulate(size.perWave)(i => (w * size.perWave + i).toLong)
      (ids, probeDf(ctx, ids, ids.map(i => probes(i.toInt))))
    }.toArray
    val ids = Array.tabulate(size.n)(_.toLong)
    cosTruth = Oracle.topK(ids, base.vectors, probes, K, "cosine", ctx.threads)
    eucTruth = Oracle.topK(ids, base.vectors, probes, K, "euclidean", ctx.threads)
  }

  def prepare(ctx: Ctx, pass: Int): Unit = answers.clear()

  def pass(ctx: Ctx, pass: Int): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    val hnswPath = ctx.path(s"hnsw-$pass")
    val vecs = t.span("sources.read_fvecs") {
      val df = VectorSources.readFvecs(spark, ctx.path("base.fvecs")).persist()
      df.count()
      df
    }
    val hnsw = t.span("hnsw.fit") {
      val m = HnswIndexer.fit(vecs, params(ctx))
      m.graph.count()
      m
    }
    val flat = t.span("ivf_flat.fit") {
      val m = IvfFlat.fit(vecs, numCells = size.cells, seed = 7L)
      m.assigned.count()
      m
    }
    val pq = t.span("ivf_pq.fit")(IvfPq.fit(vecs, numCells = size.cells, numSub = size.dim / 4,
      codesPerSub = 16, seed = 7L))
    t.span("hnsw.save")(hnsw.save(hnswPath))
    hnsw.unpersist()
    val loaded = t.span("hnsw.load") {
      val m = HnswModel.load(spark, hnswPath).get
      m.graph.count()
      m
    }
    indexBytes = dirBytes(new java.io.File(hnswPath))
    def wave(name: String, family: String, metric: String, w: Int)(f: DataFrame => DataFrame): Unit = {
      val (ids, df) = waves(w)
      answers += Answer(family, metric, ids, t.span(name)(collect(f(df))))
    }
    wave("hnsw.cold_wave", "hnsw", "cosine", 0)(loaded.knnJoin(_, K))
    (1 until size.waves).foreach(w => wave("hnsw.wave", "hnsw", "cosine", w)(loaded.knnJoin(_, K)))
    (0 until size.waves).foreach { w =>
      wave("ivf_flat.wave", "ivf_flat", "cosine", w)(IvfFlat.knnJoin(flat, _, K, nprobe = 4))
      wave("ivf_pq.wave", "ivf_pq", "euclidean", w)(IvfPq.knnJoin(pq, vecs, _, K, nprobe = 4, rerank = 50))
    }
    // exact scoring is O(base × probes): one wave is enough to time it
    wave("exact.wave", "exact", "cosine", 0)(KnnJoin.exactKnnJoin(vecs, _, K))
    // the similarity kernel alone: every base × probe cosine, no top-k
    t.span("functions.sim_pairs") {
      val (_, df) = waves(0)
      vecs.crossJoin(org.apache.spark.sql.functions.broadcast(df))
        .select(graft.functions.similarity.cosine_sim(
          org.apache.spark.sql.functions.col("embedding"),
          org.apache.spark.sql.functions.col("query_vec")).as("s"))
        .write.format("noop").mode("overwrite").save()
    }
    simPairs = size.n.toLong * size.perWave
    loaded.unpersist(); flat.release(); pq.encoded.unpersist(); vecs.unpersist()
    HnswModel.delete(spark, hnswPath)
  }

  def check(ctx: Ctx, pass: Int, checks: Checks): Unit = {
    val vecOf = (id: Long) => if (id >= 0 && id < size.n) Some(base.vectors(id.toInt)) else None
    answers.foreach { a =>
      val truth = if (a.metric == "euclidean") eucTruth else cosTruth
      val hw = checkWave(a, q => truth(q.toInt), q => probes(q.toInt), vecOf,
        mustBeExact = a.family == "exact", checks)
      if (pass < Main.RecallPasses) recall.add(a.family, hw)
    }
  }

  private val approx = Seq("hnsw", "ivf_flat", "ivf_pq")
  private val waveNames = Seq("hnsw.cold_wave", "hnsw.wave", "ivf_flat.wave", "ivf_pq.wave", "exact.wave")

  private def buildS(t: Tracer): Seq[Double] = {
    val parts = Seq("sources.read_fvecs", "hnsw.fit", "ivf_flat.fit", "ivf_pq.fit", "hnsw.save").map(t.secs)
    parts.head.indices.map(i => parts.map(_(i)).sum)
  }

  def endToEnd(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    val waveS = waveNames.flatMap(t.secs)
    val build = Metrics.median(buildS(t))
    Map(
      "build_s" -> build,
      "queries_per_s" -> waveS.length * size.perWave / waveS.sum,
      "wave_p50_ms" -> Metrics.median(waveS) * 1e3,
      "wave_p95_ms" -> Metrics.percentile(waveS, 95) * 1e3,
      "recall_at_10" -> recall.micro(approx),
      "ingest_rows_per_s" -> size.n / build,
      "index_mb" -> indexBytes / 1e6)
  }

  def reportOnly(ctx: Ctx): Map[String, Double] = Map.empty

  def perLayer(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    def med(n: String) = Metrics.median(t.secs(n))
    Map(
      "sources.read_fvecs_s" -> med("sources.read_fvecs"),
      "hnsw.fit_s" -> med("hnsw.fit"),
      "hnsw.fit_vec_per_s" -> size.n / med("hnsw.fit"),
      "hnsw.save_s" -> med("hnsw.save"),
      "hnsw.load_s" -> med("hnsw.load"),
      "hnsw.cold_wave_ms" -> med("hnsw.cold_wave") * 1e3,
      "hnsw.wave_ms_p50" -> med("hnsw.wave") * 1e3,
      "hnsw.recall_at_10" -> recall.of("hnsw"),
      "exact.wave_ms_p50" -> med("exact.wave") * 1e3,
      "ivf_flat.fit_s" -> med("ivf_flat.fit"),
      "ivf_pq.fit_s" -> med("ivf_pq.fit"),
      "ivf_flat.wave_ms_p50" -> med("ivf_flat.wave") * 1e3,
      "ivf_pq.wave_ms_p50" -> med("ivf_pq.wave") * 1e3,
      "ivf_flat.recall_at_10" -> recall.of("ivf_flat"),
      "ivf_pq.recall_at_10" -> recall.of("ivf_pq"),
      "functions.sim_pairs_per_s" -> simPairs / med("functions.sim_pairs"))
  }
}
