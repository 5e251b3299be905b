package graftbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

/** Seeded input generators. Every generator draws from one
  * `java.util.SplittableRandom` stream per call, so a seed fixes the
  * inputs exactly and the program under test receives only the data. */
object Gen {

  /** Vectors from a mixture of Gaussians. `dupFrac` of the rows are
    * planted near-duplicates: a copy of an earlier row plus small noise,
    * so exact neighbours exist at a known distance. */
  final case class VecSet(vectors: Array[Array[Float]], dupPairs: Array[(Int, Int)])

  final case class Mixture(centers: Array[Array[Float]], spread: Double)

  def mixture(seed: Long, dim: Int, numCenters: Int): Mixture = {
    val r = new java.util.SplittableRandom(seed ^ 0x5DEECE66DL)
    Mixture(Array.fill(numCenters)(Array.fill(dim)(r.nextGaussian().toFloat)), 0.45)
  }

  private def draw(m: Mixture, r: java.util.SplittableRandom): Array[Float] = {
    val c = m.centers(r.nextInt(m.centers.length))
    Array.tabulate(c.length)(j => (c(j) + m.spread * r.nextGaussian()).toFloat)
  }

  def vectors(m: Mixture, seed: Long, n: Int, dupFrac: Double): VecSet = {
    val r = new java.util.SplittableRandom(seed)
    val out = new Array[Array[Float]](n)
    val dups = Array.newBuilder[(Int, Int)]
    var i = 0
    while (i < n) {
      if (i > 0 && r.nextDouble() < dupFrac) {
        val src = r.nextInt(i)
        out(i) = out(src).map(x => (x + 0.01 * r.nextGaussian()).toFloat)
        dups += ((src, i))
      } else out(i) = draw(m, r)
      i += 1
    }
    VecSet(out, dups.result())
  }

  /** Probe vectors: fresh draws from the same mixture. */
  def probes(m: Mixture, seed: Long, n: Int): Array[Array[Float]] = {
    val r = new java.util.SplittableRandom(seed * 31 + 7)
    Array.fill(n)(draw(m, r))
  }

  /** `.fvecs`: per record a little-endian int32 dimension, then the floats. */
  def writeFvecs(path: String, vs: Array[Array[Float]]): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 16)
    try {
      vs.foreach { v =>
        val b = ByteBuffer.allocate(4 + 4 * v.length).order(ByteOrder.LITTLE_ENDIAN)
        b.putInt(v.length)
        v.foreach(b.putFloat)
        out.write(b.array())
      }
    } finally out.close()
  }

  /** A text corpus: Zipf-distributed words over a generated vocabulary,
    * repeated boilerplate spans inserted into a share of the documents,
    * and planted near-duplicate documents (a copy of an earlier original
    * with a few words replaced). Each original is copied at most once, so
    * the planted pairs are exactly the intended near-duplicates. */
  final case class Corpus(docs: Array[String], dupPairs: Array[(Long, Long)],
      vocab: Array[String])

  def corpus(seed: Long, n: Int, vocabSize: Int, dupFrac: Double,
      boilerFrac: Double): Corpus = {
    val r = new java.util.SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    val letters = "etaoinshrdlucmfwypvbgkjqxz"
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < vocabSize) {
        val len = 2 + r.nextInt(8)
        // skewed letter choice so character pairs repeat and BPE has merges to learn
        seen += String.valueOf(Array.fill(len) {
          letters.charAt(math.min(letters.length - 1,
            (math.abs(r.nextGaussian()) * 6).toInt))
        })
      }
      seen.toArray
    }
    val cdf = {
      val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def word(): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      vocab(math.min(vocabSize - 1, if (i >= 0) i else -i - 1))
    }
    val boiler = Array.fill(6)(Array.fill(12)(word()))
    val docs = new Array[String](n)
    val dups = Array.newBuilder[(Long, Long)]
    val copied = new java.util.BitSet(n)
    var i = 0
    while (i < n) {
      val src = if (i > 10) r.nextInt(i) else -1
      if (src >= 0 && r.nextDouble() < dupFrac && !copied.get(src)) {
        val ws = docs(src).split(" ")
        val edits = 1 + r.nextInt(2)
        (0 until edits).foreach(_ => ws(r.nextInt(ws.length)) = word())
        docs(i) = ws.mkString(" ")
        copied.set(src); copied.set(i)
        dups += ((src.toLong, i.toLong))
      } else {
        val len = 30 + r.nextInt(41)
        val ws = scala.collection.mutable.ArrayBuffer.fill(len)(word())
        if (r.nextDouble() < boilerFrac)
          ws.insertAll(r.nextInt(len + 1), boiler(r.nextInt(boiler.length)))
        docs(i) = ws.mkString(" ")
      }
      i += 1
    }
    Corpus(docs, dups.result(), vocab)
  }

  /** BM25 query waves: `perWave` queries of 2–4 words drawn from the
    * middle of the frequency ranking (head words match everything, tail
    * words almost nothing). */
  def queries(c: Corpus, seed: Long, waves: Int, perWave: Int): Array[Array[(Long, String)]] = {
    val r = new java.util.SplittableRandom(seed * 131 + 3)
    val lo = 20
    val hi = math.min(c.vocab.length, 2000)
    Array.tabulate(waves) { w =>
      (0 until perWave).flatMap { q =>
        val qid = (w * perWave + q).toLong
        Seq.fill(2 + r.nextInt(3))(c.vocab(lo + r.nextInt(hi - lo))).distinct.map(t => (qid, t))
      }.toArray
    }
  }
}
