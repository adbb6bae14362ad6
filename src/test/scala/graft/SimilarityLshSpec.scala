package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Quality gates for the bucketed similarity paths against the exact
  * brute-force forms, on the sf0.001 fixture (500 embeddings, dim 64,
  * planted near-dup pairs at cos≈0.4-0.51 — deliberately WEAK similarity,
  * the hardest regime for LSH; production near-dup thresholds cos≥0.9
  * collide far more reliably under the same parameters). */
class SimilarityLshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"
  lazy val emb = Tables.embeddings(spark, dir)

  test("d5 LSH near-dup pairs are an exact subset of brute-force pairs") {
    val brute = Similarity.cosinePairs(emb, 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val lsh = Similarity.cosinePairsLsh(emb, 400000L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // precision 1.0: every candidate-verified pair is a true pair with the
    // identical exact score
    lsh.foreach { case (k, v) => assert(brute.get(k).contains(v), s"pair $k") }
    // recall floor on the weak fixture pairs (measured ~0.9 at 32 bands)
    assert(brute.nonEmpty)
    val recall = lsh.size.toDouble / brute.size
    assert(recall >= 0.85, s"recall $recall = ${lsh.size}/${brute.size}")
  }

  test("cell-partitioned IVF store: directory pruning in the plan, same results as ivfTopK") {
    val path = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.ivfStoreWrite(emb, path, nCells = 16)
    val got = Similarity.ivfStoreTopK(spark, path, k = 10, nprobe = 4)
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid#") ||
      "PartitionFilters: \\[.*cid".r.findFirstIn(plan).isDefined,
      "probe must prune at the partition level:\n" + plan.take(2000))
    val want = Similarity.ivfTopK(emb, k = 10, nCells = 16, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == want)
  }

  test("scalar-quantized ADC + rerank: exact scores, full recall when cand covers the corpus") {
    val brute = Similarity.bruteForceTopK(emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // cand >= corpus: rerank sees everything, so top-k must equal e1 exactly
    val full = Similarity.sqTopK(emb, k = 10, cand = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(full == brute)
    // production cand: recall floor + scores still the exact cosine
    val sq = Similarity.sqTopK(emb, k = 10, cand = 50)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(sq.forall(brute.contains), "reranked scores must be exact-cosine rows")
    assert((sq.map(_._1).toSet & brute.map(_._1).toSet).size >= 8,
      s"sq recall ${(sq.map(_._1).toSet & brute.map(_._1).toSet).size}/10")
  }

  test("product quantization: exact equality when cand covers the corpus, recall floor at production cand") {
    val brute = Similarity.bruteForceTopK(emb, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // cand >= corpus: the cosine rerank sees every vector, so the PQ
    // approximation cannot lose anything — top-k must equal e1 exactly
    val full = Similarity.pqTopK(emb, k = 10, cand = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(full == brute)
    // production config (the registry's recall-pinned PqM/PqKsub): reranked
    // rows carry the exact cosine; recall floor on the deliberately-weak
    // fixture (codes are 8 bytes vs 256 — the 32x compression this
    // operator exists for)
    val pq = Similarity.pqTopK(emb, k = 10, cand = 100, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    // every reranked row carries the exact cosine, whether or not the
    // vector made the true top-10 (full-corpus ranking as the witness)
    val allCos = Similarity.bruteForceTopK(emb, 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pq.forall { case (id, c) => allCos.get(id).contains(c) },
      "reranked scores must be exact-cosine rows")
    assert((pq.map(_._1).toSet & brute.map(_._1).toSet).size >= 6,
      s"pq recall ${(pq.map(_._1).toSet & brute.map(_._1).toSet).size}/10")
    // rerun determinism: md5 codebook + lexicographic argmin, no RNG
    val again = Similarity.pqTopK(emb, k = 10, cand = 100, ksub = 32)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(again == pq)
  }

  test("MMR rerank equals a driver-side greedy reference on the same scaled integers") {
    val got = Similarity.mmrRerank(emb, k = 10, cand = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // reference: plain-Scala greedy over the collected shortlist + pairs
    val cand = Similarity.bruteForceTopK(emb, 50)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val cq = cand.toMap
    val ids = cand.map(_._1)
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Long = {
      def d(x: Array[Float], y: Array[Float]) =
        x.indices.foldLeft(0.0)((s, i) => s + x(i).toDouble * y(i).toDouble)
      math.floor(d(a, b) / (math.sqrt(d(a, a)) * math.sqrt(d(b, b))) * 1000000L).toLong
    }
    var sel = Vector(ids.maxBy(id => (cq(id), -id)))
    while (sel.size < 10) {
      val next = ids.filterNot(sel.contains)
        .map(id => id -> (7L * cq(id) - 3L * sel.map(s => cos(vecs(id), vecs(s))).max))
        .maxBy { case (id, sc) => (sc, -id) }._1
      sel = sel :+ next
    }
    assert(got == sel.zipWithIndex.map { case (id, i) => (i + 1L, id) })
    // rank 1 is pure relevance; the served set is shortlist-only
    assert(got.head._2 == cand.head._1)
    assert(got.map(_._2).forall(ids.contains))
  }

  test("trained k-means IVF: seeded, top-k from probed cells only, recall floor") {
    val brute = Similarity.bruteForceTopK(emb, 10).collect().map(_.getLong(0)).toSet
    val km = Similarity.kmeansIvfTopK(emb, k = 10, nCells = 16, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(km.size == 10)
    assert((km & brute).size >= 4, s"kmeans-ivf recall ${(km & brute).size}/10")
    // seeded: two runs are identical
    val again = Similarity.kmeansIvfTopK(emb, k = 10, nCells = 16, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(km == again)
  }

  test("ANN recall@10 floors: multi-probe LSH and IVF vs brute force") {
    val brute = Similarity.bruteForceTopK(emb, 10).collect().map(_.getLong(0)).toSet
    val lsh = Similarity.lshTopK(emb, bits = 6, k = 10, probeRadius = 2)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, k = 10, nCells = 16, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    assert(brute.size == 10)
    assert((lsh & brute).size >= 4, s"lsh recall ${(lsh & brute).size}/10")
    assert((ivf & brute).size >= 4, s"ivf recall ${(ivf & brute).size}/10")
  }

  test("literal-plane signatures are bit-equal to the in-SQL md5 form") {
    val sub = emb.limit(40).localCheckpoint(true)
    val fast = Similarity.bandSignatures(sub, bands = 4, bits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val sql = Similarity.bandSignaturesSql(sub, bands = 4, bits = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fast.nonEmpty && fast == sql)
  }

  test("deterministic IVF probes a strict subset of cells") {
    // with nprobe == nCells the probe is exhaustive and must equal brute
    val all = Similarity.ivfTopK(emb, k = 10, nCells = 16, nprobe = 16)
      .collect().map(_.getLong(0)).toSeq
    val brute = Similarity.bruteForceTopK(emb, 10).collect().map(_.getLong(0)).toSeq
    assert(all == brute)
  }
}
