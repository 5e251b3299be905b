package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, when}

import graft.operators.{Bpe, Dedup, MlLsh, NgramDup, SequenceExport, TextIndex}

/** text_curation: near-duplicate pairs by MinHash, clusters by connected
  * components, duplicate-window trimming, an inverted index with a closed
  * loop of BM25 query waves, BPE training, sequence packing and export.
  * Only the text operators work here; the vector layers do nothing. */
final class TextCuration extends Workload {

  private case class Size(n: Int, vocab: Int, waves: Int, perWave: Int, merges: Int, seqLen: Int)
  private val K = 10
  private val MaxJaccardDist = 0.5
  private val Window = 8

  private var size: Size = _
  private var corpus: Gen.Corpus = _
  private var waves: Array[(Array[(Long, String)], DataFrame)] = _
  private var bm25: Oracle.Bm25 = _
  private var keptTruth: Array[Int] = _
  private val prefix = "graftbench_tix"
  // outputs of the latest pass, checked after its timer stops
  private var pairs: Array[Row] = _
  private var clusters: Array[Row] = _
  private var trimmed: Array[Row] = _
  private var stats: TextIndex.Stats = _
  private val hitsRows = mutable.ArrayBuffer.empty[(Array[(Long, String)], Array[Row])]
  private var model: Bpe.BpeModel = _
  private var packed: DataFrame = _
  private var indexBytes = 0L
  private val planted = mutable.ArrayBuffer.empty[Double]
  private val candidates = mutable.ArrayBuffer.empty[Double]
  private var bmHit = 0L
  private var bmWant = 0L

  def setup(ctx: Ctx): Unit = {
    size = if (ctx.tiny) Size(300, 800, 3, 4, 30, 64) else Size(450, 3000, 4, 8, 40, 256)
    corpus = Gen.corpus(ctx.seed, size.n, size.vocab, dupFrac = 0.06, boilerFrac = 0.2)
    write(ctx, corpus.docs, ctx.path("docs.parquet"))
  }

  private def write(ctx: Ctx, docs: Array[String], path: String): Unit = {
    import ctx.spark.implicits._
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
      .repartition(ctx.threads).write.mode("overwrite").parquet(path)
  }

  def afterSetup(ctx: Ctx): Unit = {
    import ctx.spark.implicits._
    waves = Gen.queries(corpus, ctx.seed, size.waves, size.perWave)
      .map(q => (q, q.toSeq.toDF("qid", "term")))
    bm25 = new Oracle.Bm25(corpus.docs)
    keptTruth = Oracle.trimKept(corpus.docs, Window)
  }

  def prepare(ctx: Ctx, p: Int): Unit = {
    Option(packed).foreach(_.unpersist())
    hitsRows.clear()
  }

  def pass(ctx: Ctx, p: Int): Unit = {
    val t = ctx.tracer
    val spark = ctx.spark
    val docs = spark.read.parquet(ctx.path("docs.parquet"))
    val pairsDf = t.span("dedup.pairs") {
      val p = MlLsh.minHashNearDups(docs, maxJaccardDistance = MaxJaccardDist, seed = 7L).persist()
      p.count()
      p
    }
    clusters = t.span("dedup.clusters")(
      Dedup.connectedComponents(docs, pairsDf.select("id1", "id2"))
        .select("doc_id", "cluster_id", "is_canonical").collect())
    pairs = pairsDf.select("id1", "id2", "jaccard_dist").collect()
    pairsDf.unpersist()
    trimmed = t.span("ngram.trim")(NgramDup.trimDuplicates(docs, w = Window, minCount = 2)
      .select("doc_id", "n_tokens", "n_kept").collect())
    stats = t.span("textindex.build")(TextIndex.build(docs, prefix, numBuckets = ctx.threads))
    // one BM25 wave warms its code; the timed passes send them all
    (if (p == 0) waves.take(1) else waves).foreach { case (q, df) =>
      val rows = t.span("bm25.wave")(TextIndex.bm25TopDocs(spark, prefix, df, K).collect())
      hitsRows += ((q, rows))
    }
    model = t.span("bpe.train")(Bpe.train(docs, size.merges))
    packed = t.span("bpe.pack") {
      val p = Bpe.packSequences(docs, model, size.seqLen,
        when(col("doc_id") % 10 === 0, lit("val")).otherwise(lit("train"))).persist()
      p.count()
      p
    }
    t.span("export.write")(SequenceExport.write(packed, ctx.path(s"export-$p"), rowsPerShard = 200))
  }

  /** The word 3-shingles of a document as `minHashNearDups` sees them:
    * hashed into its default 2^18 features. The distance it reports is the
    * exact Jaccard distance of these feature sets, so two shingles that
    * share a feature count once. */
  private def shingles(doc: String): Set[Int] =
    doc.trim.split("\\s+").sliding(3).filter(_.length == 3)
      .map(w => math.floorMod(w.mkString(" ").hashCode, 1 << 18)).toSet

  def check(ctx: Ctx, pass: Int, checks: Checks): Unit = {
    val spark = ctx.spark
    val n = size.n
    // near-duplicate pairs: well-formed, and their distance is the true one
    val errs = mutable.ArrayBuffer.empty[String]
    pairs.foreach { r =>
      val (a, b, d) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      if (!(a < b && a >= 0 && b < n)) errs += s"pair ($a,$b)"
      else {
        val (sa, sb) = (shingles(corpus.docs(a.toInt)), shingles(corpus.docs(b.toInt)))
        val truth = 1.0 - (sa & sb).size.toDouble / (sa | sb).size
        if (math.abs(truth - d) > 0.02 || d > MaxJaccardDist + 1e-9) errs += s"pair ($a,$b) distance $d vs $truth"
      }
    }
    checks.call("dedup.pairs", errs.toSeq)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    planted += corpus.dupPairs.count(found.contains).toDouble
    candidates += pairs.length.toDouble
    checks.require(dedupRecall >= 0.9, f"dedup recall $dedupRecall%.3f below 0.9")
    // clusters: exactly the connected components of the reported pairs
    val comp = Oracle.components(n, found.toSeq)
    checks.call("dedup.clusters", clusters.toSeq.flatMap { r =>
      val (d, c, canon) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      if (d < 0 || d >= n || comp(d.toInt) != c || canon != (d == c)) Some(s"doc $d cluster $c") else None
    } ++ (if (clusters.length != n) Seq(s"${clusters.length} cluster rows") else Nil))
    // trimming: tokens kept per document match the oracle exactly
    checks.call("ngram.trim", trimmed.toSeq.flatMap { r =>
      val d = r.getLong(0).toInt
      if (r.getLong(2) != keptTruth(d)) Some(s"doc $d kept ${r.getLong(2)} not ${keptTruth(d)}") else None
    } ++ (if (trimmed.length != n) Seq(s"${trimmed.length} trim rows") else Nil))
    // index statistics
    val avgdl = corpus.docs.map(_.trim.split("\\s+").length.toLong).sum.toDouble / n
    checks.call("textindex.build",
      if (stats.n == n && math.abs(stats.avgdl - avgdl) < 1e-9) Nil else Seq(s"stats $stats"))
    indexBytes = Option(new java.io.File(ctx.path("warehouse")).listFiles).toSeq.flatten
      .filter(f => f.getName.startsWith(prefix + "_")).map(Ann.dirBytes).sum
    // BM25: every returned score is the doc's true score, ranks follow the
    // true order, and recall counts ties as hits
    val tol = 1.5e-4
    hitsRows.foreach { case (q, rows) =>
      val e = mutable.ArrayBuffer.empty[String]
      q.groupBy(_._1).foreach { case (qid, ts) =>
        val truth = bm25.rank(ts.map(_._2).toSeq)
        val trueOf = truth.toMap
        val got = rows.filter(_.getLong(0) == qid).sortBy(_.getInt(1))
        val want = truth.take(K)
        if (got.length != want.length) e += s"q$qid: ${got.length} rows, want ${want.length}"
        got.zip(want).foreach { case (g, (_, ws)) =>
          val doc = g.getLong(2)
          val s = g.getDouble(3)
          if (math.abs(trueOf.getOrElse(doc, -1.0) - s) > tol || math.abs(ws - s) > tol)
            e += s"q$qid: doc $doc score $s"
        }
        if (want.nonEmpty && pass < Main.RecallPasses) {
          val kth = want.last._2
          bmHit += got.count(g => trueOf.getOrElse(g.getLong(2), -1.0) >= kth - tol)
          bmWant += want.length
        }
      }
      checks.call("bm25.wave", e.toSeq)
    }
    // packing conserves tokens, and every sequence's spans tile it
    val ranks = model.ranks
    val memo = mutable.HashMap.empty[String, Int]
    val tokens = corpus.docs.iterator.flatMap(_.trim.split("\\s+"))
      .map(w => memo.getOrElseUpdate(w, Oracle.bpeLen(w, ranks, model.endMark)).toLong).sum
    val seqs = packed.select(col("n_tokens"),
      org.apache.spark.sql.functions.aggregate(col("doc_spans.len"), lit(0L),
        (a, b) => a + b.cast("long")).as("span_tokens")).collect()
    val packedTokens = seqs.map(_.getLong(0)).sum
    checks.call("bpe.pack", Seq(
      if (packedTokens != tokens) Some(s"packed $packedTokens tokens of $tokens") else None,
      if (seqs.exists(r => r.getLong(0) != r.getLong(1))) Some("doc spans do not tile") else None,
      if (seqs.exists(_.getLong(0) > size.seqLen)) Some("sequence over seqLen") else None,
      if (model.merges.isEmpty || model.merges.length > size.merges) Some(s"${model.merges.length} merges") else None
    ).flatten)
    val exported = ctx.path(s"export-$pass")
    val bad = SequenceExport.verify(spark, exported).count()
    val shipped = spark.read.parquet(s"$exported/sequences").agg(org.apache.spark.sql.functions.sum("n_tokens"))
      .first().getLong(0)
    checks.call("export.write", Seq(
      if (bad != 0) Some(s"$bad shards fail their audit") else None,
      if (shipped != tokens) Some(s"shipped $shipped tokens of $tokens") else None).flatten)
  }

  private def dedupRecall: Double = planted.last / corpus.dupPairs.length

  def endToEnd(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    val waveS = t.secs("bm25.wave")
    val build = Metrics.median(t.secs("textindex.build"))
    Map(
      "build_s" -> build,
      "queries_per_s" -> waveS.length * size.perWave / waveS.sum,
      "wave_p50_ms" -> Metrics.median(waveS) * 1e3,
      "wave_p95_ms" -> Metrics.percentile(waveS, 95) * 1e3,
      "recall_at_10" -> bmHit.toDouble / math.max(1L, bmWant),
      "ingest_rows_per_s" -> size.n / build,
      "index_mb" -> indexBytes / 1e6)
  }

  def reportOnly(ctx: Ctx): Map[String, Double] = Map(
    "docs_per_s" -> size.n / Metrics.median(ctx.tracer.secs("pass")),
    "dedup_recall" -> dedupRecall)

  def perLayer(ctx: Ctx): Map[String, Double] = {
    val t = ctx.tracer
    def med(n: String) = Metrics.median(t.secs(n))
    Map(
      "dedup.pairs_s" -> med("dedup.pairs"),
      "dedup.candidate_pairs" -> candidates.last,
      "dedup.pair_precision" -> (if (candidates.last == 0) 0.0 else planted.last / candidates.last),
      "dedup.clusters_s" -> med("dedup.clusters"),
      "ngram.trim_s" -> med("ngram.trim"),
      "bpe.train_s" -> med("bpe.train"),
      "bpe.pack_s" -> med("bpe.pack"),
      "export.write_s" -> med("export.write"),
      "textindex.build_s" -> med("textindex.build"),
      "bm25.wave_ms_p50" -> med("bm25.wave") * 1e3)
  }
}
