package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.hnsw.{HnswIndexer, HnswModel, HnswParams}
import graft.operators.{IvfFlat, IvfPq}
import graft.plans.AnnSqlProbe
import graft.sources.VectorSources
import graft.streaming.{IncrementalIndex, IncrementalIvfIndex}

/** ann_online: indexes are fitted in set-up; the timed pass is a fixed,
  * seeded sequence of small waves rotating over HNSW, IVF-Flat, IVF-PQ,
  * the SQL top-k probe and the two live indexes, with upsert
  * micro-batches (new ids and re-embedded existing ids) into the live
  * indexes between rotations. Planning, driver actions and fixed per-call
  * costs dominate. */
final class AnnOnline extends Workload {
  import Ann._

  private case class Size(n: Int, dim: Int, centers: Int, rotations: Int, perWave: Int,
      sqlPerWave: Int, newPerBatch: Int, updPerBatch: Int, cells: Int)
  private val kinds = Seq("hnsw", "ivf_flat", "ivf_pq", "sql_probe", "stream_hnsw", "stream_ivf")
  private sealed trait Step
  private case class Wave(kind: String, ids: Array[Long]) extends Step
  private case class Upsert(ids: Array[Long], vecs: Array[Array[Float]], updates: Int) extends Step

  private var size: Size = _
  private var mix: Gen.Mixture = _
  private var base: Gen.VecSet = _
  private var vecIds: Array[Long] = _
  private var hnsw: HnswModel = _
  private var flat: IvfFlat.Model = _
  private var pq: IvfPq.Model = _
  private var baseDf: DataFrame = _
  private var liveHnsw: IncrementalIndex = _
  private var liveIvf: IncrementalIvfIndex = _
  /** The probe waves of one rotation; every pass sends the same probes. */
  private var rotation: Seq[Wave] = _
  private val probeVec = mutable.HashMap.empty[Long, Array[Float]]
  /** Exact answers of the static families, per (probe id, metric). */
  private val truth = mutable.HashMap.empty[(Long, String), Array[(Long, Double)]]
  /** What the live indexes should hold (id → vector), replayed by [[check]]. */
  private val mirror = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val answers = mutable.ArrayBuffer.empty[Answer]
  private val recall = new Recall
  private var indexBytes = 0L
  private var rewriteFires = true
  private var updatesSent = 0L
  private var rowsSent = 0L

  /** A pass is one rotation: short, so a run times several after the JIT
    * has seen a few. */
  override def warmups: Int = 4
  override def tracePasses: Int = 3

  private def params(ctx: Ctx) = HnswParams(m = 16, efConstruction = 100,
    numPartitions = ctx.threads, seed = 7L)

  private def release(): Unit = {
    Option(hnsw).foreach(_.unpersist())
    Option(flat).foreach(_.release())
    Option(pq).foreach(_.encoded.unpersist())
    Option(baseDf).foreach(_.unpersist())
    Option(liveHnsw).foreach(_.close())
    Option(liveIvf).foreach(_.close())
  }

  def setup(ctx: Ctx): Unit = {
    release()
    size = if (ctx.tiny) Size(500, 16, 4, 1, 2, 1, 4, 4, 4)
      else Size(1000, 32, 16, 1, 4, 2, 6, 6, 16)
    val t = ctx.tracer
    val spark = ctx.spark
    mix = Gen.mixture(ctx.seed, size.dim, size.centers)
    base = Gen.vectors(mix, ctx.seed, size.n, 0.02)
    vecIds = Array.tabulate(size.n)(_.toLong)
    Gen.writeFvecs(ctx.path("base.fvecs"), base.vectors)
    baseDf = t.span("sources.read_fvecs") {
      val df = VectorSources.readFvecs(spark, ctx.path("base.fvecs")).persist()
      df.count()
      df
    }
    baseDf.write.mode("overwrite").parquet(ctx.path("base.parquet"))
    hnsw = t.span("hnsw.fit") {
      val m = HnswIndexer.fit(baseDf, params(ctx))
      m.graph.count()
      m
    }
    flat = t.span("ivf_flat.fit") {
      val m = IvfFlat.fit(baseDf, numCells = size.cells, seed = 7L)
      m.assigned.count()
      m
    }
    pq = t.span("ivf_pq.fit")(IvfPq.fit(baseDf, numCells = size.cells,
      numSub = size.dim / 4, codesPerSub = 16, seed = 7L))
    t.span("hnsw.save")(hnsw.save(ctx.path("hnsw")))
    indexBytes = dirBytes(new java.io.File(ctx.path("hnsw")))
    AnnSqlProbe.register(ctx.path("base.parquet"), hnsw)
    liveHnsw = new IncrementalIndex(spark, params(ctx))
    liveIvf = new IncrementalIvfIndex(spark, flat.centroids, params(ctx))
    t.span("stream_hnsw.ingest")(liveHnsw.processBatch(baseDf, 0L))
    t.span("stream_ivf.ingest")(liveIvf.processBatch(baseDf, 0L))
  }

  private def sqlOf(ctx: Ctx, v: Array[Float]): String = {
    val lit = v.map(x => s"cast($x as float)").mkString("array(", ", ", ")")
    s"SELECT vec_id, cosine_sim(embedding, $lit) AS score " +
      s"FROM parquet.`${ctx.path("base.parquet")}` ORDER BY score DESC LIMIT $K"
  }

  def afterSetup(ctx: Ctx): Unit = {
    var next = 0L
    rotation = kinds.map { kind =>
      val m = if (kind == "sql_probe") size.sqlPerWave else size.perWave
      val ids = Array.fill(m) { next += 1; next - 1 }
      Gen.probes(mix, ctx.seed * 1000003 + ids.head, m).zip(ids).foreach { case (v, i) => probeVec(i) = v }
      Wave(kind, ids)
    }
    val static = rotation.filterNot(_.kind.startsWith("stream")).flatMap(_.ids).toArray
    Seq("cosine", "euclidean").foreach { metric =>
      val got = Oracle.topK(vecIds, base.vectors, static.map(probeVec), K, metric, ctx.threads)
      static.zip(got).foreach { case (q, a) => truth((q, metric)) = a }
    }
    vecIds.foreach(i => mirror(i) = base.vectors(i.toInt))
    val sqlProbe = rotation.find(_.kind == "sql_probe").get.ids.head
    rewriteFires = ctx.spark.sql(sqlOf(ctx, probeVec(sqlProbe))).queryExecution.executedPlan
      .toString.contains("Filter (rank")
  }

  /** Pass `p`: every rotation sends the same waves, and after each half of
    * them an upsert batch of ids new to this pass plus re-embedded base
    * ids, drawn from (seed, p). */
  private def plan(ctx: Ctx, p: Int): Seq[Step] = (0 until size.rotations).flatMap { rot =>
    rotation.grouped(rotation.length / 2).zipWithIndex.flatMap { case (waves, half) =>
      val b = (p * size.rotations + rot) * 2 + half
      val r = new java.util.SplittableRandom(ctx.seed * 7919 + b)
      val fresh = Array.tabulate(size.newPerBatch)(j => size.n.toLong + b.toLong * size.newPerBatch + j)
      val olds = r.ints(0, size.n).distinct().limit(size.updPerBatch).toArray.map(_.toLong)
      val ids = fresh ++ olds
      waves :+ Upsert(ids, Gen.probes(mix, ctx.seed * 7 + b, ids.length), olds.length)
    }
  }

  def prepare(ctx: Ctx, pass: Int): Unit = answers.clear()

  def pass(ctx: Ctx, p: Int): Unit = {
    val t = ctx.tracer
    import ctx.spark.implicits._
    plan(ctx, p).foreach {
      case Upsert(ids, vecs, _) =>
        t.span("stream.upsert") {
          val df = ids.zip(vecs).toSeq.toDF("vec_id", "embedding")
          t.span("stream_hnsw.upsert")(liveHnsw.processBatch(df, ids.head))
          t.span("stream_ivf.upsert")(liveIvf.processBatch(df, ids.head))
        }
      case Wave(kind, ids) =>
        val rows: Array[Row] = t.span("wave") {
          def df = probeDf(ctx, ids, ids.map(probeVec))
          kind match {
            case "hnsw" => t.span("hnsw.wave")(collect(hnsw.knnJoin(df, K)))
            case "ivf_flat" => t.span("ivf_flat.wave")(collect(IvfFlat.knnJoin(flat, df, K, nprobe = 4)))
            case "ivf_pq" => t.span("ivf_pq.wave")(collect(
              IvfPq.knnJoin(pq, baseDf, df, K, nprobe = 4, rerank = 50)))
            case "sql_probe" => ids.flatMap { q =>
              t.span("sql_probe.query")(ctx.spark.sql(sqlOf(ctx, probeVec(q))).collect()).zipWithIndex.map {
                case (r, i) => Row(q, r.getLong(0), r.getDouble(1), i + 1)
              }
            }
            case "stream_hnsw" => t.span("stream_hnsw.wave")(collect(liveHnsw.knnJoin(df, K)))
            case "stream_ivf" => t.span("stream_ivf.wave")(collect(liveIvf.knnJoin(df, K, nprobe = 4)))
          }
        }
        answers += Answer(kind, if (kind == "ivf_pq") "euclidean" else "cosine", ids, rows)
    }
  }

  /** Replays the pass on [[mirror]]: live waves are checked against the
    * exact answer over the contents the live indexes should have then. */
  def check(ctx: Ctx, p: Int, checks: Checks): Unit = {
    val staticVec = (id: Long) => if (id >= 0 && id < size.n) Some(base.vectors(id.toInt)) else None
    val done = answers.iterator
    plan(ctx, p).foreach {
      case Upsert(ids, vecs, updates) =>
        ids.zip(vecs).foreach { case (i, v) => mirror(i) = v }
        updatesSent += updates; rowsSent += ids.length
      case Wave(kind, ids) =>
        val a = done.next()
        val hw = if (kind.startsWith("stream")) {
          val liveIds = mirror.keys.toArray
          val exact = ids.zip(Oracle.topK(liveIds, liveIds.map(mirror), ids.map(probeVec), K,
            "cosine", ctx.threads)).toMap
          checkWave(a, exact, probeVec, mirror.get, mustBeExact = false, checks)
        } else checkWave(a, q => truth((q, a.metric)), probeVec, staticVec, mustBeExact = false, checks)
        if (p < Main.RecallPasses) recall.add(kind, hw)
    }
    checks.require(rewriteFires, "sql_probe: ORDER BY cosine_sim DESC LIMIT k is not rewritten to an index probe")
    checks.require(liveHnsw.appliedUpdateCount == updatesSent,
      s"stream_hnsw: ${liveHnsw.appliedUpdateCount} updates applied of $updatesSent sent")
    checks.require(liveIvf.appliedUpdateCount == updatesSent,
      s"stream_ivf: ${liveIvf.appliedUpdateCount} updates applied of $updatesSent sent")
    val inserted = size.n + rowsSent - updatesSent
    checks.require(liveHnsw.ingestedCount == inserted && liveIvf.ingestedCount == inserted,
      s"live indexes ingested ${liveHnsw.ingestedCount}/${liveIvf.ingestedCount} of $inserted rows")
  }

  def endToEnd(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    val builds = Seq("sources.read_fvecs", "hnsw.fit", "ivf_flat.fit", "ivf_pq.fit",
      "hnsw.save").map(t.secs)
    val waveS = t.secs("wave")
    val probesPerRotation = rotation.map(_.ids.length).sum
    Map(
      "build_s" -> Metrics.median(builds.head.indices.map(i => builds.map(_(i)).sum)),
      "queries_per_s" -> probesPerRotation.toDouble / rotation.length * waveS.length / waveS.sum,
      "wave_p50_ms" -> Metrics.median(waveS) * 1e3,
      "wave_p95_ms" -> Metrics.percentile(waveS, 95) * 1e3,
      "recall_at_10" -> recall.micro(kinds),
      "ingest_rows_per_s" -> rowsPerUpsert / Metrics.median(t.secs("stream.upsert")),
      "index_mb" -> indexBytes / 1e6)
  }

  private def rowsPerUpsert: Double = size.newPerBatch + size.updPerBatch

  def reportOnly(ctx: Ctx): Map[String, Double] = Map.empty

  def perLayer(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    def med(n: String) = Metrics.median(t.secs(n))
    Map(
      "sources.read_fvecs_s" -> med("sources.read_fvecs"),
      "hnsw.fit_s" -> med("hnsw.fit"),
      "hnsw.fit_vec_per_s" -> size.n / med("hnsw.fit"),
      "hnsw.save_s" -> med("hnsw.save"),
      "hnsw.wave_ms_p50" -> med("hnsw.wave") * 1e3,
      "hnsw.recall_at_10" -> recall.of("hnsw"),
      "ivf_flat.fit_s" -> med("ivf_flat.fit"),
      "ivf_pq.fit_s" -> med("ivf_pq.fit"),
      "ivf_flat.wave_ms_p50" -> med("ivf_flat.wave") * 1e3,
      "ivf_pq.wave_ms_p50" -> med("ivf_pq.wave") * 1e3,
      "ivf_flat.recall_at_10" -> recall.of("ivf_flat"),
      "ivf_pq.recall_at_10" -> recall.of("ivf_pq"),
      "sql_probe.query_ms_p50" -> med("sql_probe.query") * 1e3,
      "stream_hnsw.upsert_ms_p50" -> med("stream_hnsw.upsert") * 1e3,
      "stream_ivf.upsert_ms_p50" -> med("stream_ivf.upsert") * 1e3,
      "stream_hnsw.wave_ms_p50" -> med("stream_hnsw.wave") * 1e3,
      "stream_ivf.wave_ms_p50" -> med("stream_ivf.wave") * 1e3,
      "stream_hnsw.updates_applied" -> liveHnsw.appliedUpdateCount.toDouble,
      "stream_hnsw.recall_at_10" -> recall.of("stream_hnsw"),
      "stream_ivf.recall_at_10" -> recall.of("stream_ivf"))
  }
}
