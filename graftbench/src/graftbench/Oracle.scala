package graftbench

/** Reference answers in plain Scala, computed outside every timed region.
  * Nothing here calls into graft, so a defect in the program under test
  * cannot also hide in its own check. */
object Oracle {

  def sim(metric: String, a: Array[Float], b: Array[Float]): Double = metric match {
    case "cosine" =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    case "euclidean" =>
      var ss = 0.0; var i = 0
      while (i < a.length) { val d = a(i).toDouble - b(i); ss += d * d; i += 1 }
      1.0 / (1.0 + math.sqrt(ss))
    case other => throw new IllegalArgumentException(s"unknown metric $other")
  }

  /** Exact top-k of every probe over (ids, vecs): (id, score) by score
    * descending, ties by id ascending. Probes are split over at most
    * `threads` worker threads. */
  def topK(ids: Array[Long], vecs: Array[Array[Float]], probes: Array[Array[Float]],
      k: Int, metric: String, threads: Int): Array[Array[(Long, Double)]] = {
    val out = new Array[Array[(Long, Double)]](probes.length)
    val t = math.max(1, math.min(threads, probes.length))
    val workers = (0 until t).map { w =>
      new Thread(() => {
        var q = w
        while (q < probes.length) {
          val heap = new java.util.PriorityQueue[(Long, Double)](k + 1,
            (x: (Long, Double), y: (Long, Double)) =>
              if (x._2 != y._2) java.lang.Double.compare(x._2, y._2)
              else java.lang.Long.compare(y._1, x._1))
          var i = 0
          while (i < vecs.length) {
            heap.add((ids(i), sim(metric, probes(q), vecs(i))))
            if (heap.size > k) heap.poll()
            i += 1
          }
          val arr = new Array[(Long, Double)](heap.size)
          var j = arr.length - 1
          while (!heap.isEmpty) { arr(j) = heap.poll(); j -= 1 }
          out(q) = arr
          q += t
        }
      })
    }
    workers.foreach(_.start()); workers.foreach(_.join())
    out
  }

  /** Hits of an approximate top-k against the exact one. A returned id
    * counts when it is in the exact list or ties its last score, so an
    * equally good neighbour is never scored as a miss. */
  def hits(got: Seq[Long], exact: Array[(Long, Double)], trueScore: Long => Double,
      eps: Double = 1e-9): Int = {
    if (exact.isEmpty) return 0
    val ids = exact.iterator.map(_._1).toSet
    val kth = exact.last._2
    got.distinct.count(id => ids.contains(id) || trueScore(id) >= kth - eps)
  }

  /** Okapi BM25 over whitespace tokens with the textbook idf
    * log(1 + (N - df + 0.5) / (df + 0.5)); scores rounded to 4 decimals
    * (floor(x·1e4 + 0.5) / 1e4) before ranking, ties by doc id. */
  final class Bm25(docs: Array[String], k1: Double = 1.2, b: Double = 0.75) {
    private val toks = docs.map(_.trim.split("\\s+"))
    private val n = docs.length.toDouble
    private val avgdl = toks.map(_.length.toLong).sum.toDouble / docs.length
    private val postings: Map[String, Array[(Int, Int)]] = {
      val m = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Int, Int)]]
      toks.zipWithIndex.foreach { case (ts, d) =>
        ts.groupBy(identity).foreach { case (t, occ) =>
          m.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) += ((d, occ.length))
        }
      }
      m.view.mapValues(_.toArray).toMap
    }

    /** All docs with a positive score, best first: (doc_id, score). */
    def rank(terms: Seq[String]): Array[(Long, Double)] = {
      val acc = scala.collection.mutable.HashMap.empty[Int, Double]
      terms.distinct.foreach { t =>
        postings.get(t).foreach { ps =>
          val df = ps.length.toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          ps.foreach { case (d, tf) =>
            val s = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * toks(d).length / avgdl))
            acc(d) = acc.getOrElse(d, 0.0) + s
          }
        }
      }
      acc.toArray.map { case (d, s) => (d.toLong, math.floor(s * 1e4 + 0.5) / 1e4) }
        .sortBy { case (d, s) => (-s, d) }
    }
  }

  /** Tokens kept per document by duplicate-window trimming: every window
    * of `w` tokens that occurs at least twice in the corpus keeps only its
    * first occurrence (smallest (doc, position)); tokens covered by any
    * other occurrence are dropped. */
  def trimKept(docs: Array[String], w: Int): Array[Int] = {
    val toks = docs.map(_.trim.split("\\s+"))
    val first = scala.collection.mutable.HashMap.empty[String, (Int, Int)]
    val count = scala.collection.mutable.HashMap.empty[String, Int]
    toks.zipWithIndex.foreach { case (ts, d) =>
      (0 to ts.length - w).foreach { i =>
        val key = ts.slice(i, i + w).mkString(" ")
        count(key) = count.getOrElse(key, 0) + 1
        if (!first.contains(key)) first(key) = (d, i)
      }
    }
    toks.zipWithIndex.map { case (ts, d) =>
      val dropped = new java.util.BitSet(ts.length)
      (0 to ts.length - w).foreach { i =>
        val key = ts.slice(i, i + w).mkString(" ")
        if (count(key) >= 2 && first(key) != ((d, i))) dropped.set(i, i + w)
      }
      ts.length - dropped.cardinality()
    }
  }

  /** BPE token count of one word under a merge list: repeatedly merge the
    * adjacent pair with the lowest merge rank until none applies. */
  def bpeLen(word: String, ranks: Map[(String, String), Int], endMark: String): Int = {
    var syms = word.map(_.toString).toVector :+ endMark
    var done = false
    while (!done && syms.length > 1) {
      val best = syms.indices.init
        .map(i => (ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue), i))
        .minBy(_._1)
      if (best._1 == Int.MaxValue) done = true
      else {
        val (a, b) = (syms(best._2), syms(best._2 + 1))
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
          else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
    }
    syms.length
  }

  /** Connected components of `pairs` over ids 0 until n: label = min id. */
  def components(n: Int, pairs: Seq[(Long, Long)]): Array[Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    Array.tabulate(n)(i => find(i).toLong)
  }
}
