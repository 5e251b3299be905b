package graftbench

/** Checks of the benchmark's own generators and oracle, on inputs small
  * enough to verify by hand. Exits non-zero when any check fails. */
object SelfTest {
  private var failures = 0

  private def expect(ok: Boolean, what: String): Unit =
    if (!ok) { failures += 1; println(s"selftest FAILED: $what") }
    else println(s"selftest ok: $what")

  def main(args: Array[String]): Unit = {
    // the same seed gives identical inputs, another seed different ones
    val m1 = Gen.mixture(1L, 8, 3)
    val v1 = Gen.vectors(m1, 1L, 200, 0.1)
    val v1b = Gen.vectors(Gen.mixture(1L, 8, 3), 1L, 200, 0.1)
    val v2 = Gen.vectors(Gen.mixture(2L, 8, 3), 2L, 200, 0.1)
    expect(v1.vectors.zip(v1b.vectors).forall { case (a, b) => a.sameElements(b) } &&
      v1.dupPairs.sameElements(v1b.dupPairs), "vectors repeat for one seed")
    expect(!v1.vectors.zip(v2.vectors).forall { case (a, b) => a.sameElements(b) },
      "vectors differ across seeds")
    expect(v1.dupPairs.nonEmpty && v1.dupPairs.forall { case (a, b) =>
      a < b && Oracle.sim("euclidean", v1.vectors(a), v1.vectors(b)) > 0.9 }, "planted vector duplicates are near")
    expect(Gen.probes(m1, 1L, 5).zip(Gen.probes(m1, 1L, 5)).forall { case (a, b) => a.sameElements(b) },
      "probes repeat for one seed")
    val c1 = Gen.corpus(1L, 300, 500, 0.1, 0.2)
    val c1b = Gen.corpus(1L, 300, 500, 0.1, 0.2)
    val c2 = Gen.corpus(2L, 300, 500, 0.1, 0.2)
    expect(c1.docs.sameElements(c1b.docs) && c1.dupPairs.sameElements(c1b.dupPairs),
      "corpus repeats for one seed")
    expect(!c1.docs.sameElements(c2.docs), "corpus differs across seeds")
    expect(c1.dupPairs.nonEmpty, "corpus has planted near-duplicates")
    expect(Gen.queries(c1, 1L, 2, 3).toSeq.map(_.toSeq) == Gen.queries(c1b, 1L, 2, 3).toSeq.map(_.toSeq),
      "queries repeat for one seed")

    // exact top-k on four 2-d vectors, checked by hand
    val ids = Array(0L, 1L, 2L, 3L, 4L)
    val vs = Array(Array(1f, 0f), Array(0f, 1f), Array(1f, 1f), Array(-1f, 0f), Array(2f, 2f))
    val q = Array(Array(1f, 0.1f))
    val cos = Oracle.topK(ids, vs, q, 3, "cosine", 2)(0)
    // cos: id0 0.995, id2 = id4 0.774 (tie broken by id), id1 0.0995, id3 -0.995
    expect(cos.map(_._1).sameElements(Array(0L, 2L, 4L)), s"cosine top-3 ${cos.mkString(",")}")
    expect(math.abs(cos(0)._2 - 1.0 / math.sqrt(1.01)) < 1e-6, "cosine score")
    val euc = Oracle.topK(ids, vs, q, 2, "euclidean", 1)(0)
    // distances: id0 0.1, id2 0.9, id1 1.345, id4 2.238, id3 2.002
    expect(euc.map(_._1).sameElements(Array(0L, 2L)), s"euclidean top-2 ${euc.mkString(",")}")
    expect(math.abs(euc(0)._2 - 1.0 / 1.1) < 1e-6, "euclidean score")
    expect(Oracle.hits(Seq(0L, 4L, 1L), cos, _ => 0.0) == 2, "hits count listed ids")
    expect(Oracle.hits(Seq(0L, 1L), Array((0L, 0.9), (2L, 0.5)), id => if (id == 1L) 0.5 else 0.9) == 2,
      "hits count a tie with the last exact score")

    // BM25 on three documents: "c" has df 1 of N 3, doc 1 has tf 2, dl 3, avgdl 2
    val bm = new Oracle.Bm25(Array("a b", "a c c", "d"))
    val r = bm.rank(Seq("c"))
    expect(r.length == 1 && r(0)._1 == 1L && r(0)._2 == 1.1824, s"bm25 ${r.mkString(",")}")

    // trimming with w = 2: "x y" repeats, its second occurrence is dropped
    expect(Oracle.trimKept(Array("x y z", "x y w"), 2).sameElements(Array(3, 1)), "trim oracle")
    // BPE: merges a+b, then ab+</w>
    val ranks = Map(("a", "b") -> 0, ("ab", "</w>") -> 1)
    expect(Oracle.bpeLen("ab", ranks, "</w>") == 1 && Oracle.bpeLen("ba", ranks, "</w>") == 3, "bpe oracle")
    expect(Oracle.components(5, Seq((1L, 3L), (3L, 4L))).sameElements(Array(0L, 1L, 2L, 1L, 1L)),
      "components oracle")
    expect(math.abs(Metrics.percentile((1 to 20).map(_.toDouble), 95) - 19.05) < 1e-9 &&
      Metrics.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Metrics.median(Seq(4.0, 1.0)) == 2.5, "percentiles")
    expect(Metrics.perLayer.length <= 128 && Metrics.perLayer.map(_._1).distinct.length == Metrics.perLayer.length,
      s"${Metrics.perLayer.length} distinct per-layer names")

    if (failures > 0) { println(s"selftest: $failures failed"); sys.exit(1) }
    println("selftest: all passed")
  }
}
