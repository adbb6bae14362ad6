package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Text operators on hand-built documents: TF-IDF top terms (t16),
  * bigram LM scoring (t17), chunking (t22), the linear quality classifier
  * (t23), k-anonymity (t24), curriculum buckets (x7) and RAG indexing
  * (x8); plus Hamming near-dup pairs (e9) and the cluster-safe split (x3),
  * which run on the same documents. */
class TextOps2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("tfidfTopTerms ranks corpus-rare terms above ubiquitous ones") {
    val c = docs(
      1L -> "spark spark spark common",
      2L -> "catalyst common",
      3L -> "tungsten common common")
    val r = TextOps.tfidfTopTerms(c, k = 2).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(5 - 3))).toSeq
    val top1 = TextOps.tfidfTopTerms(c, k = 1).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    // "common" appears in all 3 docs -> idf = ln(1) = 0 -> never a top term
    assert(top1 == Map(1L -> "spark", 2L -> "catalyst", 3L -> "tungsten"))
    assert(r.nonEmpty)
    // idf_milli for df=1, N=3: floor(ln(3)*1000) = 1098
    val row = TextOps.tfidfTopTerms(c, k = 1)
      .filter(col("doc_id") === 1L).head()
    assert(row.getAs[Long]("tfidf_milli") == 3 * 1098)
  }

  test("tfidf ties break on token asc and empty docs emit nothing") {
    val c = docs(1L -> "bb aa", 2L -> "")
    val r = TextOps.tfidfTopTerms(c, k = 2).collect()
    assert(r.map(_.getLong(0)).toSet == Set(1L))
    // aa and bb both tf=1, df=1 -> equal score; rank 1 must be "aa"
    val byRank = r.map(x => x.getAs[Int]("rnk") -> x.getString(1)).toMap
    assert(byRank(1) == "aa" && byRank(2) == "bb")
  }

  test("bigramLmScore: repeated bigram scores cheaper than a rare one") {
    val c = docs(
      1L -> "a b a b a b",
      2L -> "a c")
    val r = TextOps.bigramLmScore(c).collect()
      .map(x => x.getLong(0) -> x.getAs[Long]("avg_nll_milli")).toMap
    // doc 1's bigrams are mostly the frequent (a,b); doc 2's (a,c) is
    // singleton -> doc 2 must be more surprising
    assert(r(1L) < r(2L))
    // single-token / empty docs emit no row
    val single = TextOps.bigramLmScore(docs(1L -> "only", 2L -> "")).collect()
    assert(single.isEmpty)
  }

  test("hammingNearDupPairs: collapse-first default pairs representatives; allPairs opt-out keeps ham-0 members") {
    val c = docs(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "the quick brown fox jumps over the lazy dog",
      3L -> "an utterly different document concerning catalyst internals optimization")
    val sh = Dedup.simhash(c).collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // DEFAULT (collapse-first, the e9 contract): one representative
    // (min doc_id) per distinct simhash, pairs between representatives
    // only — exact by pigeonhole over the distinct signatures
    val r = Dedup.hammingNearDupPairs(c).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val reps = sh.groupBy(_._2).map { case (h, xs) => (xs.keys.min, h) }
    val bruteReps = for {
      (a, ha) <- reps; (b, hb) <- reps if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (a, b, d.toLong)
    assert(r == bruteReps.toSet)
    // identical docs 1 and 2 share a signature: NO (1,2,0) member pair
    // in the collapsed output (that group is d1/d4 exact-dup territory)
    assert(!r.contains((1L, 2L, 0L)))
    // OPT-OUT (collapse = false): every member pair within radius,
    // including the within-cluster ham-0 pairs
    val rAll = Dedup.hammingNearDupPairs(c, collapse = false).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    val brute = for {
      a <- sh.keys; b <- sh.keys if a < b
      d = java.lang.Long.bitCount(sh(a) ^ sh(b)) if d <= 3
    } yield (a, b, d.toLong)
    assert(rAll.contains((1L, 2L, 0L)))
    assert(rAll == brute.toSet)
    assert(!rAll.exists { case (a, b, _) => b == 3L || a == 3L })
  }

  test("bpeMergePairs counts adjacent char pairs across token instances") {
    val c = docs(1L -> "abab abab", 2L -> "ab x")
    val r = TextOps.bpeMergePairs(c).collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    // "abab" has pairs ab,ba,ab (x2 instances) -> ab: 2*2+1=5, ba: 2*1=2
    assert(r("ab") == 5L && r("ba") == 2L)
    assert(!r.contains("x")) // 1-char tokens contribute nothing
  }

  test("mips and l2 top-k agree with a driver-side brute force") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(2.0f, 0.1f)),
      (3L, Array(0.0f, 3.0f)), (4L, Array(1.0f, 0.1f)),
      (5L, Array(-1.0f, 0.0f))).toDF("vec_id", "embedding")
    // query = vec 1 = (1, 0)
    val mips = Similarity.mipsTopK(emb, 3).collect().map(_.getLong(0)).toSeq
    assert(mips == Seq(2L, 4L, 3L)) // dots: 2.0, 1.0, 0.0 (5 is -1)
    val l2 = Similarity.l2TopK(emb, 3).collect().map(_.getLong(0)).toSeq
    assert(l2 == Seq(4L, 2L, 5L)) // d2: 0.01, 1.01, 4.0 (3 is 10.0)
  }

  test("qualityKeeper keeps the best-quality longest member, not the min id") {
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val c = docs(
      5L -> s"$base bank and the story continues for a while longer here",
      6L -> s"$base bank and the story continues for a while longer here",
      7L -> s"$base bank") // shorter near-dup; min id would be 5
    val r = Dedup.qualityKeeper(c).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(r.length == 1)
    val (keep, n, nq) = r.head
    assert(n == 3 && nq == 3)
    assert(keep == 5L) // longest + quality, tie on n_tokens broken by id
    // now make doc 5 junk (all punctuation): keeper must skip it
    val c2 = docs(
      5L -> (s"$base bank" + " .,!?;:" * 30),
      6L -> s"$base bank and the story continues for a while longer here",
      7L -> s"$base bank")
    val r2 = Dedup.qualityKeeper(c2).collect()
    if (r2.length == 1) // cluster may or may not include the junk variant
      assert(r2.head.getLong(0) != 5L || r2.head.getLong(2) == 3)
  }

  test("clusterSafeSplit puts a whole near-dup cluster on one side") {
    val base = "the quick brown fox jumps over the lazy dog near the river"
    val c = docs(
      1L -> s"$base bank",
      2L -> s"$base bank",  // exact dup
      3L -> s"$base shore", // near dup
      4L -> "completely different content about spark catalyst optimizer rules engine")
    val r = Dedup.clusterSafeSplit(c).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    val byDoc = r.map(x => x._1 -> x).toMap
    assert(r.length == 4)
    // docs 1,2,3 cluster under rep=1 and share a split side
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._2).distinct == Seq(1L))
    assert(Seq(1L, 2L, 3L).map(byDoc(_)._3).distinct.size == 1)
    // singleton represents itself
    assert(byDoc(4L)._2 == 4L)
    // md5-deterministic: same result on re-run
    val again = Dedup.clusterSafeSplit(c).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
    assert(r.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("chunkDocs windows every token, overlaps, short tail, short doc") {
    val c = docs(
      1L -> (1 to 20).map(i => s"t$i").mkString(" "), // 20 tokens
      2L -> "only three tokens")
    val r = TextOps.chunkDocs(c, window = 16, stride = 8).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getString(3)))
    val d1 = r.filter(_._1 == 1L).sortBy(_._2)
    // starts 0, 8, 16 -> lengths 16, 12, 4
    assert(d1.map(x => (x._2, x._3)).toSeq == Seq((0L, 16L), (1L, 12L), (2L, 4L)))
    assert(d1(0)._4 == TestSpark.md5Hex((1 to 16).map(i => s"t$i").mkString(" ")))
    assert(d1(2)._4 == TestSpark.md5Hex((17 to 20).map(i => s"t$i").mkString(" ")))
    // a doc shorter than one window yields exactly one chunk
    assert(r.filter(_._1 == 2L).toSeq == Seq((2L, 0L, 3L,
      TestSpark.md5Hex("only three tokens"))))
  }

  test("chunkDocs drops token-free docs") {
    val r = TextOps.chunkDocs(docs(1L -> "...", 2L -> "ok"), 4, 2).collect()
    assert(r.map(_.getLong(0)).toSet == Set(2L))
  }

  test("linearQualityScore is the sum of per-token bucket weights") {
    val c = docs(1L -> "alpha beta alpha", 2L -> "")
    val r = TextOps.linearQualityScore(c, buckets = 64).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // reproduce the weight chain on the driver for one token
    def h(s0: String): Long =
      java.lang.Long.parseLong(TestSpark.md5Hex(s0).take(15), 16)
    def w(tok: String): Long = h(s"lqw|${h(s"lq|$tok") % 64}") % 2001 - 1000
    assert(r(1L)._1 == 3L)
    assert(r(1L)._2 == 2 * w("alpha") + w("beta"))
    assert(r(1L)._3 == (if (r(1L)._2 >= 0) 1L else 0L))
    // empty doc: zero tokens, score 0, passes
    assert(r(2L) == ((0L, 0L, 1L)))
  }

  test("curriculumBuckets: value-coherent phases ordered by difficulty") {
    val s = spark; import s.implicits._
    // 4 docs: two all-common (difficulty 0), two all-rare (difficulty 1000)
    val d = Seq(
      (1L, "x x x"), (2L, "x x"), // 'x' freq 5 > maxFreq -> 0 rare
      (3L, "aaa bbb"), (4L, "ccc ddd")) // singletons -> all rare
      .toDF("doc_id", "text")
    val r = TextOps.curriculumBuckets(d, maxFreq = 2, phases = 4).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getLong(3))).toMap
    assert(r(1L) == ((0L, 0L)) && r(2L) == ((0L, 0L)))
    // the 1000-difficulty value starts at rank 2 of 4 -> phase 4*2/4 = 2
    assert(r(3L) == ((1000L, 2L)) && r(4L) == ((1000L, 2L)))
  }

  test("kAnonymity flags classes below k") {
    val s = spark; import s.implicits._
    val d = (1L to 6L).map(i => (i, "one two", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .unionByName(Seq((7L, "one two", "fr", "s1"))
        .toDF("doc_id", "text", "lang", "source"))
    val r = TextOps.kAnonymity(d, k = 5).collect()
      .map(x => (x.getString(0), x.getLong(3), x.getLong(4)))
    assert(r.toSet == Set(("en", 6L, 1L), ("fr", 1L, 0L)))
  }

  test("ragIndexTopK scores are exact and exclude the query chunk") {
    val s = spark; import s.implicits._
    val docs = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 20).map(i => s"w$i").mkString(" ")), // duplicate text
      (3L, "totally different words here"))
      .toDF("doc_id", "text")
    val r = TextOps.ragIndexTopK(docs, k = 5).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // query = (1, 0); doc 2 chunk 0 has the SAME fingerprint -> same
    // embedding -> cosine exactly 1e6, ranked first
    assert(r.head == ((2L, 0L, 1000000L)))
    assert(!r.contains((1L, 0L, 1000000L))) // the query chunk itself is excluded
  }
}
