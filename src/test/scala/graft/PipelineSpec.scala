package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup / text / similarity operators on hand-built documents with
  * planted duplicates. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def docs(rows: (Long, String)*) = {
    val s = spark; import s.implicits._
    rows.toDF("doc_id", "text")
  }

  val corpus = docs(
    1L -> "the quick brown fox jumps over the lazy dog near the river bank",
    2L -> "the quick brown fox jumps over the lazy dog near the river bank", // exact dup of 1
    3L -> "the quick brown fox jumps over the lazy dog near the river shore", // near dup of 1
    4L -> "completely different content about spark catalyst optimizer rules engine",
    5L -> "le petit chat le la les et est une le la")

  test("single-pass ShingleArray equals the composed built-ins form") {
    val a = Dedup.shingles(corpus).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val b = Dedup.shinglesComposed(corpus).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(a == b && a.nonEmpty)
    // edge cases: empty text, <3 tokens, separators at both ends
    val edge = docs(1L -> "", 2L -> "one two", 3L -> ",,a b c!!")
    val x = Dedup.shingles(edge).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val y = Dedup.shinglesComposed(edge).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(x == y)
    assert(x.contains((3L, "a b c")))
  }

  test("exact dedup groups identical texts under the min id") {
    val m = Dedup.exact(corpus).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) == 2L) // doc 2 collapsed into doc 1
    assert(m(3L) == 1L && m(4L) == 1L)
  }

  test("codegen MinHashSig equals the exploded-shingle signature aggregation") {
    val edge = corpus.union(docs(6L -> "", 7L -> "one two", 8L -> ",,a b c!!"))
    val a = Dedup.signatureDirect(edge).collect()
      .map(r => r.getLong(0) -> (1 to Dedup.NumHashes).map(r.getString).toList).toMap
    val b = Dedup.signatureFrom(Dedup.shingles(edge)).collect()
      .map(r => r.getLong(0) -> (1 to Dedup.NumHashes).map(r.getString).toList).toMap
    assert(a == b && a.size == 8)
    val c1 = Dedup.minhashCandidatesDirect(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val c2 = Dedup.minhashCandidatesFrom(Dedup.shingles(corpus)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(c1 == c2)
  }

  test("minhash LSH surfaces exact and near duplicates as candidates") {
    val cand = Dedup.minhashCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(cand.contains((1L, 3L)) || cand.contains((2L, 3L)))
    assert(!cand.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("wider bands (rowsPerBand=4) give a candidate subset with identical scores") {
    val sh = Dedup.shingles(corpus)
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1))
    val c2 = Dedup.minhashCandidatesFrom(sh, rowsPerBand = 2).collect().map(key).toSet
    val c4 = Dedup.minhashCandidatesFrom(sh, rowsPerBand = 4).collect().map(key).toSet
    // j^4 ≤ j^2 per band: r=4 can only drop candidates, never add
    assert(c4.subsetOf(c2))
    // the exact dup shares every minhash, so it collides at any width
    assert(c4.contains((1L, 2L)))
    // scores on surviving pairs are the same exact shingle Jaccard
    val v2 = Dedup.jaccardVerifyFrom(sh).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val v4 = Dedup.jaccardVerifyFrom(sh, rowsPerBand = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    v4.foreach { case (p, j) => assert(v2(p) == j, s"pair $p") }
  }

  test("jaccard verify (allPairs) scores exact dup at 100") {
    val j = Dedup.jaccardVerify(corpus, allPairs = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(j((1L, 2L)) == 100L)
    j.get((1L, 3L)).foreach(p => assert(p > 50L && p < 100L))
  }

  test("jaccard verify DEFAULTS to collapse-first: exact dups merge, near dups still score") {
    // VERDICT r5 next-5: the quadratic all-pairs path is opt-in now.
    // Default on the same corpus: docs 2 (exact dup of 1) collapses into
    // its representative, so the (1,2) pair disappears; the genuine near
    // dup (1,3) must still be scored between representatives.
    val j = Dedup.jaccardVerify(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(!j.contains((1L, 2L)))
    j.get((1L, 3L)).foreach(p => assert(p > 50L && p < 100L))
    // the default PLAN contains the collapse stage: the representative
    // semi-join against the min-id-per-hash aggregate (absent from the
    // allPairs plan). Asserted on the pre-checkpoint base seam —
    // jaccardVerify localCheckpoints the shingles, which truncates the
    // visible lineage to a LogicalRDD.
    def plan(allPairs: Boolean) =
      Dedup.verifyBase(corpus, allPairs).queryExecution.analyzed.toString
    assert(plan(allPairs = false).contains("keep_id"))
    assert(!plan(allPairs = true).contains("keep_id"))
  }

  test("jaccard verify warns on quadratic dup-cluster candidate sets, routes to d3b") {
    // the decision rule itself
    assert(!Dedup.pairBlowup(nPairs = 0, nDocs = 0))
    assert(!Dedup.pairBlowup(nPairs = 50, nDocs = 10))   // 5 pairs/doc: at the line
    assert(Dedup.pairBlowup(nPairs = 51, nDocs = 10))    // past it
    // a fat duplicate cluster (21 copies → 210 pairs over 21 docs) must
    // trip the guard on the opt-in all-pairs path; the DEFAULT on the
    // same corpus must NOT (one representative → no candidate pairs)
    val fat = docs((1L to 21L).map(i =>
      i -> "the quick brown fox jumps over the lazy dog near the river bank"): _*)
    val err = new java.io.ByteArrayOutputStream()
    val verified = Console.withErr(err) {
      Dedup.jaccardVerify(fat, allPairs = true).collect()
    }
    assert(verified.length == 210) // every within-cluster pair scored
    // note: the warning goes through System.err (Spark executors print
    // there too); assert on the decision rule, and that the default
    // yields no pairwise work at all
    assert(Dedup.pairBlowup(210, 21))
    assert(Dedup.jaccardVerify(fat).collect().isEmpty)
  }

  test("span dedup removes later occurrences of a duplicated block, keeps the rest") {
    // 4-word blocks: doc 1 = [A B], doc 2 = [A C], doc 3 = [B B'] where
    // B' repeats doc 1's block B; doc 4 duplicates doc 1 entirely
    val c = docs(
      1L -> "a b c d e f g h",             // blocks: "a b c d", "e f g h"
      2L -> "a b c d x y z w",             // first block duplicates doc 1's
      3L -> "p q r s e f g h",             // second block duplicates doc 1's
      4L -> "a b c d e f g h")             // exact dup of doc 1 — loses everything
    val got = Dedup.spanDedup(c, blockWords = 4).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._1 == 2 && got(1L)._2 == 2)         // doc 1 keeps both blocks
    assert(got(2L) == ((2L, 1L, TestSpark.md5Hex("x y z w"))))
    assert(got(3L) == ((2L, 1L, TestSpark.md5Hex("p q r s"))))
    assert(got(4L) == ((2L, 0L, TestSpark.md5Hex(""))))  // fully deduplicated away
    // an in-document repeat is also removed: block 0 == block 1
    val rep = docs(9L -> "a b c d a b c d")
    val r9 = Dedup.spanDedup(rep, blockWords = 4).collect().head
    assert(r9.getLong(1) == 2 && r9.getLong(2) == 1)
  }

  test("repetition score: top-bigram mode, dup-5-gram share, Gopher flag") {
    val c = docs(
      // "buy now" ×4 among 10 tokens; 6 5-grams, several repeated
      1L -> "buy now buy now buy now buy now great deal",
      // no repeated bigram at all: every bigram unique
      2L -> "a b c d e f g h",
      // tie between "x y" and "y x" (both ×2) — smallest gram wins
      3L -> "x y x y z")
    val m = TextOps.repetitionScore(c).collect()
      .map(r => r.getLong(0) -> r).toMap
    val r1 = m(1L)
    assert(r1.getAs[Long]("top_bigram_n") == 4 && r1.getAs[String]("top_bigram") == "buy now")
    // 4 occurrences × 7 chars over 42 chars of text = 666666 ppm > 200000
    assert(r1.getAs[Long]("top_bigram_char_ppm") == 4L * 7 * 1000000 / 42)
    // 5-grams of 10 tokens = 6; "buy now buy now buy|now ..." repeats:
    // positions 1/3 and 2/4 coincide → 2 duplicate occurrences of 6
    assert(r1.getAs[Long]("dup_5gram_ppm") == 2L * 1000000 / 6)
    assert(r1.getAs[Int]("is_repetitive") == 1)
    assert(m(2L).getAs[Long]("top_bigram_n") == 1 && m(2L).getAs[Int]("is_repetitive") == 0)
    // tie: "x y" ×2 and "y x" ×2 → binary-smallest "x y" reported
    assert(m(3L).getAs[String]("top_bigram") == "x y" && m(3L).getAs[Long]("top_bigram_n") == 2)
  }

  test("wide 120-bit hamming pairs equal the brute-force filter; halves are independent") {
    val sigs = Dedup.simhashWide(corpus).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the two halves come from disjoint md5 bytes — a corpus where they
    // coincide for every doc would mean the second half is not wired
    assert(sigs.values.exists { case (h0, h1) => h0 != h1 })
    val brute = (for {
      (a, (a0, a1)) <- sigs.toSeq; (b, (b0, b1)) <- sigs.toSeq if a < b
      ham = java.lang.Long.bitCount(a0 ^ b0) + java.lang.Long.bitCount(a1 ^ b1)
      if ham <= 3
    } yield (a, b, ham.toLong)).toSet
    val banded = Dedup.hammingNearDupPairsWide(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(banded == brute) // pigeonhole: 4x30-bit bands are exact at radius 3
    assert(banded.contains((1L, 2L, 0L))) // the exact dup survives at ham 0
  }

  test("simhash is equal for identical docs, near for near-dups") {
    val sh = TestSpark.toMap2(Dedup.simhash(corpus))
    assert(sh(1L) == sh(2L))
    def popcount(x: Long) = java.lang.Long.bitCount(x)
    assert(popcount(sh(1L) ^ sh(3L)) < popcount(sh(1L) ^ sh(4L)))
  }

  test("single-pass simhash equals the exploded per-bit form") {
    val fast = TestSpark.toMap2(Dedup.simhash(corpus))
    val slow = TestSpark.toMap2(Dedup.simhashExploded(corpus))
    assert(fast == slow && fast.nonEmpty)
    // zero-token docs emit no row in either form
    val edge = docs(1L -> "", 2L -> "one")
    assert(TestSpark.toMap2(Dedup.simhash(edge)).keySet == Set(2L))
    assert(TestSpark.toMap2(Dedup.simhashExploded(edge)).keySet == Set(2L))
  }

  test("sequence packing fills then overflows per language stream") {
    val s = spark; import s.implicits._
    // 3-token docs against a budget of 4: doc1 -> seq0 (cum 0), doc2 ->
    // seq0 (cum 3 < 4... 3 div 4 = 0), doc3 -> seq1 (cum 6 div 4 = 1)
    val d = Seq(
      (1L, "en", "one two three"), (2L, "en", "four five six"),
      (3L, "en", "seven eight nine"), (10L, "fr", "un deux trois"))
      .toDF("doc_id", "lang", "text")
    val packed = TextOps.sequencePack(d, budget = 4).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(packed(("en", 0L)) == (2L, 6L, 1L, 2L)) // docs 1+2, 6 tokens
    assert(packed(("en", 1L)) == (1L, 3L, 3L, 3L)) // doc 3 overflows
    assert(packed(("fr", 0L)) == (1L, 3L, 10L, 10L)) // independent stream
  }

  test("rarity score counts corpus-rare token occurrences") {
    val s = spark; import s.implicits._
    // 'common' appears 3x (not rare at maxFreq=2); 'odd'/'weird' once each
    val d = Seq((1L, "common common odd"), (2L, "common weird"))
      .toDF("doc_id", "text")
    val r = TestSpark.toMap2(TextOps.rarityScore(d).select("doc_id", "n_rare"))
    assert(r == Map(1L -> 1L, 2L -> 1L))
  }

  test("PII redaction: exact spans replaced in fixed order, counts taken pre-redaction") {
    val s = spark; import s.implicits._
    val d = Seq((1L, "write to bob.smith+x@corp.example.org or 192.168.1.200, call 415-555-0142 ok"))
      .toDF("doc_id", "text")
    val red = d.select(TextOps.redactPii(col("text")).as("r")).first().getString(0)
    assert(red == "write to <EMAIL> or <IP>, call <PHONE> ok")
    // piiRedact augments every doc with one synthetic email/IP/phone, so
    // this doc counts 2 of each; a clean doc counts exactly 1 of each
    val counts = TextOps.piiRedact(d.union(Seq((2L, "no pii here")).toDF("doc_id", "text")))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(counts(1L) == ((2, 2, 2)) && counts(2L) == ((1, 1, 1)))
  }

  test("DSIR weighting scores quality-subset-like bigrams higher") {
    val s = spark; import s.implicits._
    // docs 1-2 pass the quality rule (en stopwords, low punct) and share
    // bigrams; doc 3 fails it (no stopwords) and has disjoint bigrams
    val d = Seq(
      (1L, "the cat sat on the mat and the dog is here"),
      (2L, "the cat sat on the mat and all is well"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val m = TestSpark.toMap2(TextOps.dsirWeighting(d).select("doc_id", "dsir_pct"))
    assert(m(1L) == 100L && m(2L) == 100L) // all their grams live in the target subset
    assert(m(3L) == 0L)                    // no gram of doc 3 is target-distinctive
  }

  test("perplexity score: exact milli-nat unigram NLL") {
    val s = spark; import s.implicits._
    val d = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // N=5; cnt a=2 b=2 c=1; nll(a)=nll(b)=floor(ln(2.5)*1000)=916,
    // nll(c)=floor(ln(5)*1000)=1609
    val m = TextOps.perplexityScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_nll_milli"),
         r.getAs[Long]("avg_nll_milli"))).toMap
    assert(m(1L) == ((3L, 2748L, 916L)))
    assert(m(2L) == ((2L, 2525L, 1262L)))
  }

  test("perplexity milli-nat floors sit clear of cross-engine ulp boundaries") {
    // ADVICE r6: floor(ln(N/cnt)*1000) is hash-compared cross-engine, and
    // Math.log (Spark) vs libm log (DuckDB) only agree to 1 ulp — a value
    // within an ulp of an integer milli-nat boundary could floor
    // differently. The fixtures' actual (cnt, N) pairs must therefore sit
    // FAR from every boundary; this guard turns a latent driver-side
    // oracle flake into a loud local failure if a future corpus drifts
    // within 1e-6 milli-nats of one.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val toks = docs.select(explode(TextOps.tokens(col("text"))).as("tok"))
    val n = toks.count().toDouble
    val worst = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      .select(col("cnt")).distinct().collect().map(_.getLong(0))
      .map { c =>
        val y = math.log(n / c) * 1000.0
        math.min(y - math.floor(y), math.ceil(y) - y)
      }.min
    assert(worst > 1e-6,
      s"a milli-nat value sits $worst from a floor boundary — cross-engine flake risk")
  }

  test("language id votes stopwords") {
    val m = TextOps.langId(corpus).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("pred_lang")).toMap
    assert(m(1L) == "en" && m(5L) == "fr")
  }

  test("token stats and fingerprint are deterministic") {
    val t = TextOps.tokenStats(corpus).filter(col("doc_id") === 1L).first()
    assert(t.getAs[Int]("n_tokens") == 13)
    val f1 = TextOps.fingerprint(corpus).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(f1(1L) == f1(2L) && f1(1L) != f1(3L))
  }

  test("cosine similarity: identical vectors score 1e6, orthogonal 0") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(emb, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top(2L) == 1000000L && top(3L) == 0L)
  }

  test("IVF ANN finds the identical vector in its probed cell") {
    val s = spark; import s.implicits._
    val emb = (1L to 40L).map(i =>
      (i, Array.tabulate(8)(j => if (j == (i % 4).toInt) 1.0f else 0.01f * i)))
      .toDF("vec_id", "embedding")
    val top = Similarity.ivfTopK(emb, k = 3, nCells = 4, nprobe = 2).collect()
    assert(top.nonEmpty)
    // query is vec 1 (lane 1); its nearest neighbors share lane 1 (5, 9, ...)
    assert(top.head.getLong(0) % 4 == 1L)
  }

  test("multimodal metadata pipeline extracts deterministic stub features") {
    implicit val s = spark
    val media = Multimodal.asMedia(docs(7L -> "abcd").withColumn("text", col("text")))
    val meta = Multimodal.extractMeta(media).collect().head
    assert(meta.doc_id == 7L && meta.byte_len == 4L && meta.fake_width == 4L)
    assert(meta.fp == "e2fc714c4727ee9395f324cd2e7f331f") // md5("abcd")
  }

  test("multimodal frame sampling fans out every k-th fixed-size slice") {
    implicit val s = spark
    // 40 bytes, frameBytes=16 -> frames 0..2 (last is 8 bytes); stride 2 -> 0, 2
    val media = Multimodal.asMedia(docs(3L -> ("ab" * 20)))
    val frames = Multimodal.sampleFrames(media, frameBytes = 16, stride = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(f => (f.frame_idx, f.frame_len)).toSeq == Seq((0L, 16L), (2L, 8L)))
    // resize keeps every ratio-th byte, binary-in/binary-out
    val small = Multimodal.resizeStub(media, ratio = 4).collect().head
    assert(small.doc_id == 3L && small.payload.length == 10)
  }

  test("BPE pretokenizer matches a direct java.util.regex scan on tricky text") {
    val text = "I don't think 42 cats, 7 dogs! it's 3.14-ish\ttabbed"
    val m = java.util.regex.Pattern.compile(TextOps.BpePattern).matcher(text)
    val expected = scala.collection.mutable.Buffer[String]()
    while (m.find()) expected += m.group()
    assert(expected.mkString == text, "pretokenizer must partition the text exactly")
    assert(expected.contains("'t") && expected.contains(" 42") && expected.contains("!"))
    val row = TextOps.bpeTokenStats(docs(1L -> text)).collect().head
    assert(row.getInt(1) == expected.size)
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.mkString("\u0001").getBytes("UTF-8"))
    assert(row.getString(2) == md.map("%02x".format(_)).mkString)
  }

  test("codegen WinnowArray equals the composed built-ins winnow form") {
    val s2 = spark; import s2.implicits._
    val vt = "\u000B"
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, ""),                           // empty: one md5("") gram both forms
      (3L, "short"),                      // below k: one whole-text gram
      (4L, "le caf\u00e9 est tr\u00e8s bon \u5317\u4eac" + vt + "tab"), // non-ASCII + vertical tab
      (5L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaa")) // degenerate: all grams equal
      .toDF("doc_id", "text")
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toList).toMap
    val fast = sets(TextOps.winnowSets(d, 8, 4))
    val slow = sets(TextOps.winnowSetsComposed(d))
    assert(fast == slow && fast.values.forall(_.nonEmpty))
    assert(fast(5L).size == 1) // all-equal grams collapse to one fingerprint
  }

  test("winnowing: a shared substring fingerprints identically under shift") {
    // common run of 16 chars > k+w-1 = 11, embedded at different offsets
    val common = "abcdefghijklmnop"
    val d = docs(1L -> ("XXX " + common + " YYY"), 2L -> ("Z" + common + "QQQQQ"),
      3L -> "totally unrelated content with nothing in common at all")
    val prints = TextOps.winnowPrints(d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert((prints(1L) & prints(2L)).nonEmpty,
      "shift-resistance: shared >= k+w-1 substring must share a fingerprint")
    assert((prints(1L) & prints(3L)).isEmpty)
    // digest is the canonical set: identical docs digest identically
    val dig = TextOps.winnowFingerprints(docs(7L -> "same text body here", 8L -> "same text body here"))
      .collect().map(_.getString(2))
    assert(dig(0) == dig(1))
  }

  test("contamination flags corpus docs sharing a 5-gram with the benchmark slice") {
    // doc 20 is the benchmark slice (id % 20 == 0); doc 1 copies one of its
    // 5-grams verbatim, doc 2 shares nothing, doc 40 is benchmark (excluded)
    val c = docs(
      20L -> "alpha beta gamma delta epsilon zeta eta theta",
      40L -> "iota kappa lambda mu nu xi omicron",
      1L  -> "alpha beta gamma delta epsilon unrelated trailing words",
      2L  -> "entirely different tokens with no shared sequences anywhere here")
    val out = Dedup.contamination(c).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == Set(1L))
    assert(out(1L) == 1L) // exactly the copied "alpha beta gamma delta epsilon"
    // short docs (< k tokens) produce no grams and never join
    val short = docs(20L -> "a b c d e f", 3L -> "a b")
    assert(Dedup.contamination(short).collect().isEmpty)
  }

  test("bloom-prefiltered contamination gate equals the exact gate") {
    val c = docs(
      20L -> "alpha beta gamma delta epsilon zeta eta theta",
      40L -> "iota kappa lambda mu nu xi omicron",
      1L  -> "alpha beta gamma delta epsilon unrelated trailing words",
      2L  -> "entirely different tokens with no shared sequences anywhere here",
      3L  -> "iota kappa lambda mu nu more words here today")
    val exact = Dedup.contamination(c).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bloom = Dedup.contaminationBloom(c).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == bloom && bloom.nonEmpty)
  }

  test("mixture sample: sqrt-temperature targets, deterministic md5-rank selection") {
    val s = spark; import s.implicits._
    val d = ((1L to 100L).map(i => (i, s"t $i", "big")) ++
             (101L to 125L).map(i => (i, s"t $i", "mid")) ++
             (126L to 129L).map(i => (i, s"t $i", "tiny")))
      .toDF("doc_id", "text", "source")
    val out = TextOps.mixtureSample(d, budget = 100).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // w = floor(sqrt(n)) = 10, 5, 2; tw = 17 -> targets 58, 29, 11
    assert(out("big")._1 == 100L && out("big")._2 == 10L && out("big")._3 == 58L)
    assert(out("mid")._3 == 29L && out("tiny")._3 == 11L)
    // tiny stratum: target 11 exceeds its 4 docs -> all selected
    assert(out("tiny")._4 == (126L to 129L).sum)
    val rerun = TextOps.mixtureSample(d, budget = 100).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(rerun == out.map { case (k, v) => k -> v._4 }) // no RNG state
  }

  test("stratified sample is deterministic, per-stratum bounded, and hash-keyed") {
    val s = spark; import s.implicits._
    val d = (1L to 200L).map(i => (i, s"doc $i text", if (i % 2 == 0) "en" else "de"))
      .toDF("doc_id", "text", "lang")
    val a = TextOps.stratifiedSample(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val b = TextOps.stratifiedSample(d).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(a == b) // rerun-stable: no RNG state
    assert(a.toSeq.map(_._2).sum == 200 && a.forall(t => t._3 <= t._2))
    // membership depends only on (salt, doc_id): moving a doc across
    // strata cannot change whether it is sampled
    val moved = d.withColumn("lang", lit("xx"))
    val total = TextOps.stratifiedSample(moved).collect().head
    assert(total.getLong(2) == a.toSeq.map(_._3).sum)
  }

  test("trainingDataPrep filters low-quality docs and collapses exact dups per lang") {
    val s = spark; import s.implicits._
    val d = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", "en"),
      (2L, "the quick brown fox jumps over the lazy dog today", "en"), // dup of 1
      (3L, "the cat sat on a mat and the dog sat too", "en"),
      (4L, "x", "en"),                       // too short -> filtered
      (5L, "!!! ??? ... ;;; ::: ,,, the a", "en")) // punct-heavy -> filtered
      .toDF("doc_id", "text", "lang")
    val out = TextOps.trainingDataPrep(d).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getString(0) == "en")
    assert(r.getLong(1) == 2L)      // docs 1 (keeper of {1,2}) and 3
    assert(r.getLong(3) == 1L + 3L) // id_sum proves WHICH docs survived
  }

  def emb(rows: (Long, Seq[Float])*) = {
    val s = spark; import s.implicits._
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")
  }

  test("urlCanonicalDedup collapses tracking/case/www variants") {
    val s = spark; import s.implicits._
    val d = Seq((0L, "x", "src0"), (50L, "y", "src0"), (1L, "z", "src0"))
      .toDF("doc_id", "text", "source")
    val r = Dedup.urlCanonicalDedup(d).collect()
      .map(x => (x.getString(0), x.getLong(1), x.getLong(2)))
    // doc 0 and doc 50 share doc_id mod 50 and source -> same canonical
    val c0 = r.find(_._3 == 0L).get
    assert(c0._1 == "https://src0.example.com/p/0/?id=0" && c0._2 == 2L)
    assert(r.find(_._3 == 1L).get._1 == "https://src0.example.com/p/1/?id=1")
  }

  test("array-intersect Jaccard == exploded-routing Jaccard, row for row") {
    val s = spark; import s.implicits._
    // texts with exact dups, near-dups, disjoint docs, and a <3-token doc
    val docs = Seq(
      1L -> "the quick brown fox jumps over the lazy dog again and again",
      2L -> "the quick brown fox jumps over the lazy dog again and again",
      3L -> "the quick brown fox jumps over the lazy cat again and again",
      4L -> "a completely different document about spark physical plans",
      5L -> "tiny doc",
      6L -> "the quick brown fox jumps over the lazy dog once more today"
    ).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs).localCheckpoint(true)
    // all ordered pairs as candidates — covers zero-intersection pairs
    val ids = docs.select($"doc_id".as("a"))
    val cand = ids.crossJoin(docs.select($"doc_id".as("b")))
      .filter($"a" < $"b").localCheckpoint(true)
    val legacy = Dedup.jaccardVerifyCandidatesExploded(sh, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSh = Dedup.jaccardVerifyCandidates(sh, cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val viaSets = Dedup.jaccardVerifyCandidatesArr(Dedup.shingleSets(docs), cand)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(viaSh == legacy, "sh-derived array form diverged from the exploded reference")
    assert(viaSets == legacy, "shingleSets form diverged from the exploded reference")
    assert(legacy((1L, 2L)) == 100L) // exact dup pair sanity
  }

  test("shingleSets matches the exploded distinct shingle multiset per doc") {
    val s = spark; import s.implicits._
    val docs = Seq(1L -> "a b c a b c a b", 2L -> "xy").toDF("doc_id", "text")
    val exploded = Dedup.shingles(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val sets = Dedup.shingleSets(docs).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(sets == exploded)
  }

  test("blockHash: payload edits flip only the touched blocks' bits") {
    implicit val s = spark; import s.implicits._
    // 120 bytes -> 2 bytes per block; doc 2 perturbs ONE region of doc 1,
    // doc 3 is structurally different
    val base = ("ab" * 30) + ("zy" * 30) // low half then high half
    val edit = ("ab" * 30) + ("zy" * 27) + "aa" + ("zy" * 2)
    val other = ("az" * 60)
    val media = Seq((1L, base), (2L, edit), (3L, other))
      .toDF("doc_id", "text")
    val h = Multimodal.blockHash(Multimodal.asMedia(media)).collect()
      .map(r => r.doc_id -> r.simhash).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(2L)) <= 3)       // local edit stays near
    assert(ham(h(1L), h(3L)) > 3)        // different structure lands far
    // determinism: recompute equals
    val h2 = Multimodal.blockHash(Multimodal.asMedia(media)).collect()
      .map(r => r.doc_id -> r.simhash).toMap
    assert(h == h2)
  }

  test("phash near-dup pairs obey the pigeonhole radius") {
    implicit val s = spark; import s.implicits._
    val base = ("ab" * 30) + ("zy" * 30)
    val edit = ("ab" * 30) + ("zy" * 27) + "aa" + ("zy" * 2)
    val media = Seq((1L, base), (2L, edit), (3L, "az" * 60))
      .toDF("doc_id", "text")
    val pairs = Dedup.hammingPairsFrom(
      Multimodal.blockHash(Multimodal.asMedia(media)).toDF(), radius = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(pairs.head._3 <= 3)
  }

  test("hardNegatives keeps only the band below the positive bar") {
    // query = vec 0; vec 1 is a near-dup (cos ~ 1), vec 2 orthogonal,
    // vec 3 at cos = 0.1 (in band), vec 4 opposite
    val e = emb(
      0L -> Seq(1f, 0f), 1L -> Seq(1f, 0.001f), 2L -> Seq(0f, 1f),
      3L -> Seq(0.1f, 0.99498743710662f), 4L -> Seq(-1f, 0f))
    val r = Similarity.hardNegatives(e, k = 5, lo = 50000L, hi = 150000L)
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(3L))
  }

  test("rrfFusion blends the two rankings with 1e6 div (60 + rank)") {
    // cosine ranks by direction; MIPS rewards norm: vec 2 is a huge
    // off-direction vector that MIPS ranks first but cosine ranks last
    val e = emb(
      0L -> Seq(1f, 0f),
      1L -> Seq(2f, 0.02f),
      2L -> Seq(10f, 30f),
      3L -> Seq(0.9f, 0.1f))
    val r = Similarity.rrfFusion(e, k = 3, n = 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    // cosine order: 1, 3, 2 ; mips order: 2, 1, 3
    val byId = r.map(x => x._1 -> x._2).toMap
    assert(byId(1L) == 1000000 / 61 + 1000000 / 62)
    assert(byId(2L) == 1000000 / 63 + 1000000 / 61)
    assert(byId(3L) == 1000000 / 62 + 1000000 / 63)
    assert(r.forall(_._3 == 2L)) // every candidate sits in both lists here
  }

  test("containment is asymmetric: a quote inside a superset scores ~1 one way") {
    // doc 2 contains doc 1's text verbatim plus more: C(1->2) = 1,
    // C(2->1) < 1. Texts share enough shingles to be d2 candidates.
    val small = "alpha beta gamma delta epsilon zeta eta theta"
    val big = small + " iota kappa"
    val r = Dedup.containmentVerify(docs(1L -> small, 2L -> big)).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(4),
        x.getLong(5), x.getLong(6)))
    assert(r.length == 1)
    val (a, b, inter, cab, cba) = r.head
    assert((a, b) == ((1L, 2L)))
    assert(cab == 1000000L)        // every shingle of the small doc is in the big
    assert(cba < 1000000L && cba > 0L)
    assert(inter == 6L)            // 8 tokens -> 6 3-shingles
  }

  test("dedupWeights: cluster mass sums to ~1e6 per distinct text") {
    val r = Dedup.dedupWeights(docs(
      1L -> "same text", 2L -> "same text", 3L -> "same text",
      4L -> "unique")).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r(1L) == ((3L, 333333L)) && r(2L) == r(1L) && r(3L) == r(1L))
    assert(r(4L) == ((1L, 1000000L)))
  }

  test("prefix-truncated cosine equals full cosine when tails are zero") {
    val s = spark; import s.implicits._
    val e = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0.8f, 0.6f, 0f, 0f)),
      (2L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val full = Similarity.bruteForceTopK(e, 2).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    val tr = Similarity.bruteForceTopK(
      e.select(col("vec_id"), expr("slice(embedding, 1, 2)").as("embedding")), 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)))
    assert(full.toSeq == tr.toSeq) // zero tails -> identical geometry
  }
}
