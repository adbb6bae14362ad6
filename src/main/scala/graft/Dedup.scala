package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for the training-data pipeline surface:
  * exact (hash group-by), MinHash+LSH (shingle → minhash → band →
  * bucket-join), n-gram Jaccard verification, and SimHash.
  *
  * Cross-engine determinism: minhash permutations are min-of-md5-hex
  * STRINGS (lexicographic min of a keyed md5 is a valid random
  * permutation and is identical in any engine), SimHash uses the first 60
  * bits of md5 parsed as an integer, and Jaccard is a scaled-integer
  * percentage — no floats anywhere.
  *
  * Scale notes (100 TB thinking): every stage is a groupBy/join keyed on
  * doc_id / shingle / band signature — all shuffle-parallel with no
  * driver-side state; band-bucket join degenerates quadratically only
  * inside a bucket, which LSH keeps near-duplicate-only by construction.
  */
object Dedup {
  import TextOps.tokens

  val NumHashes = 8
  val RowsPerBand = 2 // 4 bands of 2 → catches J ≳ 0.5 pairs

  /** D1: exact dedup — keeper id + group size per distinct text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("group_n"))
      .select("keep_id", "group_n")

  /** Word 3-gram shingle set, exploded to (doc_id, s) distinct rows.
    * Documents with <3 tokens contribute their whole text as one shingle.
    * Uses the single-pass [[graft.functions.ShingleArray]] expression;
    * [[shinglesComposed]] is the built-ins-only equivalent it is pinned
    * against in tests. */
  def shingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.ShingleArray.shingles(docs.sparkSession, col("text"))).as("s"))
      .distinct()

  /** The same distinct shingle set as [[shingles]], kept as ONE ARRAY row
    * per document with ZERO shuffle (r15): the [[graft.functions
    * .ShingleArray]] projection + a per-row `array_distinct`. The
    * explode+distinct form pays a corpus-sized exchange before any
    * consumer; verification legs that only need per-document sets
    * ([[jaccardVerifyCandidatesArr]]) skip it entirely. */
  def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(graft.functions.ShingleArray.shingles(
        docs.sparkSession, col("text"))).as("ss"))

  /** The composed-from-built-ins shingle derivation (mirrors the oracle
    * SQL shape); semantically identical to [[shingles]]. */
  def shinglesComposed(docs: DataFrame): DataFrame = {
    val ts = tokens(col("text"))
    docs.select(col("doc_id"),
        explode(when(size(ts) < 3, array(array_join(ts, " ")))
          .otherwise(transform(sequence(lit(0), size(ts) - 3),
            i => concat_ws(" ",
              element_at(ts, i + 1), element_at(ts, i + 2), element_at(ts, i + 3)))))
          .as("s"))
      .distinct()
  }

  /** Wide per-document signature: (doc_id, m0..m7) in ONE shuffle — the 8
    * keyed hashes are computed as columns of the shingle row and min-agg'd
    * with map-side combine, instead of exploding k (8× the shuffle rows)
    * and self-joining for bands. Values are identical to the row form. */
  def signatureFrom(sh: DataFrame): DataFrame = {
    val hcols = (0 until NumHashes).map(k =>
      md5(concat(lit(s"$k|"), col("s"))).as(s"h$k"))
    sh.select(col("doc_id") +: hcols: _*)
      .groupBy("doc_id")
      .agg(min(s"h0").as("m0"),
        (1 until NumHashes).map(k => min(s"h$k").as(s"m$k")): _*)
  }

  /** MinHash signature rows: (doc_id, k, m) for k ∈ [0, NumHashes). */
  def minhash(docs: DataFrame): DataFrame = minhashFrom(shingles(docs))

  def minhashFrom(sh: DataFrame): DataFrame = {
    val pairs = (0 until NumHashes).map(k => s"$k, m$k").mkString(", ")
    signatureFrom(sh).select(col("doc_id"),
      expr(s"stack(${NumHashes}, $pairs)").as(Seq("k", "m")))
  }

  /** LSH band signatures: (doc_id, b, sig) — `rowsPerBand` minhash rows
    * per band, hashed straight off the wide signature (no self-join).
    *
    * `rowsPerBand` is THE precision/recall knob (LSH S-curve: match
    * probability j^r per band): r=2 over the 8-hash signature (4 bands)
    * is the registry default every oracle mirrors, but a random pair's per-band collision
    * odds are only squared — on a large low-entropy corpus (small shingle
    * vocabulary ⇒ random pairs share minhashes at rates ∝ their accidental
    * Jaccard) the candidate set turns quadratic. The 100×-documents
    * replay measured it: 104M candidates over 494k docs (210/doc) at r=2
    * vs near-dup-structure-sized at r=4. At scale, size r to the corpus:
    * r ≈ log(n)/log(1/j_bg) for background similarity j_bg. */
  def bands(docs: DataFrame): DataFrame = bandsFrom(shingles(docs))

  private def bandsFrom(sh: DataFrame,
                        rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(rowsPerBand >= 1 && NumHashes % rowsPerBand == 0,
      s"rowsPerBand must divide NumHashes=$NumHashes (got $rowsPerBand); " +
        "a non-divisor would silently drop signature hashes from every band")
    val nBands = NumHashes / rowsPerBand
    val pairs = (0 until nBands)
      .map { b =>
        val ms = (0 until rowsPerBand).map(r => s"m${rowsPerBand * b + r}")
          .mkString(", ")
        s"$b, md5(concat($ms))"
      }.mkString(", ")
    signatureFrom(sh).select(col("doc_id"),
      expr(s"stack($nBands, $pairs)").as(Seq("b", "sig")))
  }

  /** Wide per-document signature with ZERO shuffle: the whole
    * shingle→hash→min pipeline as the codegen
    * [[graft.functions.MinHashSig]] projection (spec-pinned value-equal
    * to [[signatureFrom]]'s exploded-shingle aggregation — duplicates
    * cannot change a minimum). The exploded form shuffles every
    * (doc, shingle) row; this shuffles nothing. */
  def signatureDirect(docs: DataFrame): DataFrame = {
    val ms = graft.functions.MinHashSig.of(docs.sparkSession, col("text"))
    docs.select(col("doc_id"), ms.as("ms"))
      .select(col("doc_id") +:
        (0 until NumHashes).map(k => col("ms")(k).as(s"m$k")): _*)
  }

  /** D2 off the projection signature: band hashes + the bucket equi-join
    * are the only shuffle (fixed-width 32-char keys). `rowsPerBand` is
    * the same S-curve knob as [[bands]] — size it to the corpus. */
  def minhashCandidatesDirect(docs: DataFrame,
                              rowsPerBand: Int = RowsPerBand): DataFrame =
    minhashCandidatesFromSignature(signatureDirect(docs), rowsPerBand)

  /** The band bucket-join off an already-computed wide signature frame
    * (doc_id, m0..m7) — the seam d16/d17 use so one signature projection
    * feeds several band widths (r15). */
  private[graft] def minhashCandidatesFromSignature(
      sg: DataFrame, rowsPerBand: Int = RowsPerBand): DataFrame = {
    require(rowsPerBand >= 1 && NumHashes % rowsPerBand == 0,
      s"rowsPerBand must divide NumHashes=$NumHashes (got $rowsPerBand)")
    val nBands = NumHashes / rowsPerBand
    val pairs = (0 until nBands)
      .map { b =>
        val ms = (0 until rowsPerBand).map(r => s"m${rowsPerBand * b + r}")
          .mkString(", ")
        s"$b, md5(concat($ms))"
      }.mkString(", ")
    val bd = sg.select(col("doc_id"),
      expr(s"stack($nBands, $pairs)").as(Seq("b", "sig")))
    val x = bd.select(col("b"), col("sig"), col("doc_id").as("a"))
    val y = bd.select(col("b").as("b2"), col("sig").as("sig2"), col("doc_id").as("bb"))
    x.join(y, col("b") === col("b2") && col("sig") === col("sig2") && col("a") < col("bb"))
      .select(col("a"), col("bb").as("b")).distinct()
  }

  /** D2: MinHash-LSH candidate pairs — docs sharing ≥1 band bucket. */
  def minhashCandidates(docs: DataFrame): DataFrame =
    minhashCandidatesFrom(shingles(docs))

  def minhashCandidatesFrom(sh: DataFrame,
                            rowsPerBand: Int = RowsPerBand): DataFrame = {
    val bd = bandsFrom(sh, rowsPerBand)
    val x = bd.select(col("b"), col("sig"), col("doc_id").as("a"))
    val y = bd.select(col("b").as("b2"), col("sig").as("sig2"), col("doc_id").as("bb"))
    x.join(y, col("b") === col("b2") && col("sig") === col("sig2") && col("a") < col("bb"))
      .select(col("a"), col("bb").as("b")).distinct()
  }

  /** Shingle set materialized once per fixture dir — d2/d3 (and any
    * later dedup stage) share it instead of re-deriving the
    * explode+distinct (on a cluster: a cached/CTE-reused stage). */
  private val shingleCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
  def shinglesCached(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    shingleCache.computeIfAbsent(s"${spark.sparkContext.applicationId}|$dir",
      _ => shingles(Tables.documents(spark, dir)).localCheckpoint(true))

  /** One representative document per distinct text (d1's keeper rule,
    * kept as full rows): the stage a production dedup pipeline runs
    * BEFORE any pairwise verification. Pairwise cost is quadratic in
    * duplicate-cluster size, so collapsing exact copies first turns a
    * corpus with fat dup clusters back into a near-linear verify — at
    * sf1 (10 id-shifted copies of every doc) this is the difference
    * between d3's 100×-pairs blowup and d3b's flat profile. */
  def representatives(docs: DataFrame): DataFrame =
    docs.join(exact(docs).select(col("keep_id").as("doc_id")),
      Seq("doc_id"), "left_semi")

  /** D3: exact shingle-Jaccard verification of the LSH candidates —
    * (a, b, jacc_pct) with jacc_pct = (100·|∩|) div |∪|.
    *
    * ==Cost contract==
    * Verification cost is ∝ the number of TRUE near-duplicate pairs,
    * which is QUADRATIC in duplicate-cluster size — and on a real corpus
    * popularity makes clusters fat. The DEFAULT therefore collapses
    * exact duplicates first ([[representatives]]) and verifies one
    * representative per distinct text — the d3b composition, flat in
    * cluster size (VERDICT r5 wrong #2: warning → hard default). At sf1
    * (10 copies of every doc) collapse-first is 3.5 s vs 116.7 s all-
    * pairs — the pair count, not the plan, is the cost.
    *
    * Pass `allPairs = true` only when every within-cluster pair must be
    * scored (the d3 baseline registry entry); that path still warns on
    * stderr when the candidate set is blowup-shaped
    * (pairs/doc > [[BlowupPairsPerDoc]]). */
  def jaccardVerify(docs: DataFrame, allPairs: Boolean = false): DataFrame =
    jaccardVerifyFrom(shingles(verifyBase(docs, allPairs)).localCheckpoint(true))

  /** The document set [[jaccardVerify]] actually verifies: the collapse-
    * first representatives by default, the raw corpus only on explicit
    * allPairs opt-in. Seam kept visible (pre-checkpoint) so the spec can
    * pin that the default PLAN contains the collapse stage. */
  private[graft] def verifyBase(docs: DataFrame, allPairs: Boolean): DataFrame =
    if (allPairs) docs else representatives(docs)

  /** A candidate set averaging more pairs per participating document than
    * this is quadratic-cluster-shaped — the collapse-first composition
    * ([[representatives]] → [[jaccardVerify]]) would verify the same
    * near-dup structure at near-linear cost. */
  private[graft] val BlowupPairsPerDoc = 5L
  private[graft] def pairBlowup(nPairs: Long, nDocs: Long): Boolean =
    nDocs > 0 && nPairs > BlowupPairsPerDoc * nDocs

  /** `maxPairs`: optional deterministic cap on the verified candidate
    * pairs — the lowest `maxPairs` by md5(a|b) (cross-engine-stable
    * order, mirrored verbatim in the d3 oracle SQL). The all-pairs d3
    * baseline is honest-quadratic inside fat dup clusters (58 s / 27–58 s
    * run-to-run spread at sf1, VERDICT r7); the cap bounds the fixture's
    * pairwise work while [[jaccardVerify]]'s collapse-first default (d3b)
    * remains the UNBOUNDED-correct composition. Implemented as
    * orderBy+limit ⇒ TakeOrdered (per-partition top-P + driver merge),
    * never a single-partition global sort. Logged loudly when it bites. */
  def jaccardVerifyFrom(sh: DataFrame, maxPairs: Option[Int] = None,
                        rowsPerBand: Int = RowsPerBand): DataFrame = {
    val candAll = minhashCandidatesFrom(sh, rowsPerBand)
    val cand = (maxPairs match {
      case Some(p) =>
        val capped = candAll.orderBy(
          md5(concat(col("a").cast("string"), lit("|"), col("b").cast("string"))),
          col("a"), col("b")).limit(p)
        capped
      case None => candAll
    }).localCheckpoint(true)
    maxPairs.foreach { p =>
      if (cand.count() == p)
        System.err.println(
          s"[graft.Dedup] jaccardVerify: candidate-pair cap ENGAGED at $p " +
            "pairs (md5-ordered prefix) — remaining pairs are not verified; " +
            "use the collapse-first composition (d3b) for unbounded-correct " +
            "verification")
    }
    jaccardVerifyCandidates(sh, cand)
  }

  /** Exact shingle-Jaccard over an ALREADY-materialized candidate frame
    * (`cand` must be checkpointed: the blowup guard counts it and the
    * pipeline consumes it from three branches) — the seam
    * [[jaccardVerifyFrom]] and [[lshBandSweep]] share so the sweep does
    * not regenerate the candidate set it already has. */
  private[graft] def jaccardVerifyCandidates(sh: DataFrame,
                                             cand: DataFrame): DataFrame = {
    // restrict the set build to candidate documents FIRST — the
    // unrestricted join is quadratic in the hottest shingle's frequency,
    // exactly the blowup the LSH stage exists to avoid
    // fused materialize+count (r14, Traversals.checkpointCount): the
    // blowup guard's count is the action that checkpoints candDocs
    val (candDocs, nDocs) = Traversals.checkpointCount(
      cand.select(col("a").as("doc_id"))
        .union(cand.select(col("b").as("doc_id"))).distinct())
    // cluster-size guard (VERDICT r4 next-7): cand is already
    // checkpointed, so its count is a cheap local scan
    val nPairs = cand.count()
    if (pairBlowup(nPairs, nDocs))
      System.err.println(
        s"[graft.Dedup] jaccardVerify: $nPairs candidate pairs over $nDocs " +
          s"docs (> $BlowupPairsPerDoc pairs/doc) — quadratic dup-cluster " +
          "shape; prefer jaccardVerify(representatives(docs)) (collapse " +
          "exact duplicates first, the d3b composition)")
    val shC = sh.join(candDocs, Seq("doc_id"), "left_semi")
    // per-doc shingle SETS + per-pair array intersection (r15): ONE
    // doc-keyed exchange builds the candidate docs' sets, two doc-keyed
    // joins attach them to the pairs, and the intersection is a per-row
    // codegen'd set operation — the (pair × shingle) routing join this
    // replaces shuffled every candidate pair's a-side shingles by
    // (b, s) and then paid a pair-keyed count-combine plus two size
    // joins. Work stays ∝ Σ_pairs |shingles| (inside the projection,
    // not an exchange); values are identical ([[PipelineSpec]] pins the
    // two forms row-for-row, and the oracle pins the published jacc).
    val sets = shC.groupBy("doc_id").agg(collect_list(col("s")).as("ss"))
    jaccardVerifyCandidatesArr(sets, cand)
  }

  /** Exact Jaccard over candidate pairs from per-document shingle SETS
    * (one `ss` array column of distinct shingles). Shared by the
    * sh-derived path above and the zero-shuffle [[shingleSets]] path
    * (d14/d16/d17). */
  private[graft] def jaccardVerifyCandidatesArr(docSets: DataFrame,
                                                cand: DataFrame): DataFrame =
    cand
      .join(docSets.select(col("doc_id").as("a"), col("ss").as("sa")), "a")
      .join(docSets.select(col("doc_id").as("b"), col("ss").as("sb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("i"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .select(col("a"), col("b"),
        expr("(100 * i) div (na + nb - i)").as("jacc_pct"))

  /** The r14 pair-routed exploded intersection, kept as the REFERENCE
    * the array form is spec-pinned against (PipelineSpec). */
  private[graft] def jaccardVerifyCandidatesExploded(sh: DataFrame,
                                                     cand: DataFrame): DataFrame = {
    val sz = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val candDocs = cand.select(col("a").as("doc_id"))
      .union(cand.select(col("b").as("doc_id"))).distinct()
    val shC = sh.join(candDocs, Seq("doc_id"), "left_semi")
    val inter = cand
      .join(shC.select(col("doc_id").as("a"), col("s")), "a")
      .join(shC.select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy("a", "b").agg(count(lit(1)).as("i"))
    cand.join(inter, Seq("a", "b"), "left_outer")
      .na.fill(0L, Seq("i"))
      .join(sz.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sz.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .select(col("a"), col("b"),
        expr("(100 * i) div (na + nb - i)").as("jacc_pct"))
  }

  /** D17: the LSH band-width sweep as a REGISTRY metric (the d16
    * calibration discipline applied to the S-curve knob): for each
    * rowsPerBand r ∈ {2, 4} over the same 8-hash signatures, the
    * candidate-pair count, how many candidates are TRUE near-dups
    * (exact shingle Jaccard ≥ `jaccThresholdPct`, judged over the most
    * inclusive r=2 candidate set), and recall vs that truth set in ppm.
    * r=2's recall is 1e6 by construction (truth ⊆ its candidates); the
    * r=4 row quantifies exactly what the scale-sized band width trades:
    * per-band match probability j² → j⁴, so threshold-J pairs thin out
    * while the 500k-doc replay's 58× candidate cut is bought (PERF.md).
    * All driver-side loops are over the CONSTANT {2, 4}.
    *
    * Collapse-first (the d3b discipline, VERDICT r8 #2): band width is a
    * property of SHINGLE structure, and exact-duplicate copies carry
    * identical shingle sets — they only inflate the candidate and
    * truth-verify passes quadratically per dup cluster without moving
    * the metric. The sweep therefore calibrates over one
    * [[representatives]] row per distinct text (the oracle mirrors the
    * same collapse). */
  def lshBandSweep(docsIn: DataFrame, jaccThresholdPct: Int = 50): DataFrame = {
    val spark = docsIn.sparkSession
    import spark.implicits._
    // zero-shuffle signature + shingle-set projections (r15): the sweep's
    // shingle side used to pay the explode+distinct exchange and each
    // band width re-shuffled the exploded rows through signatureFrom;
    // now ONE lazy checkpoint of the representatives feeds the codegen
    // signature projection (both widths) and the array-form exact verify
    // — the band bucket-joins are the only corpus-sized exchanges left.
    val docs = representatives(docsIn).localCheckpoint(false)
    val sg = signatureDirect(docs).localCheckpoint(false)
    // the r=2 candidates are BOTH the truth basis and the r=2 row —
    // materialize once and verify off the shared frame (the candidate
    // pipeline is the sweep's dominant cost, quadratic on exactly the
    // blowup-shaped corpora this metric exists to measure); this eager
    // checkpoint also materializes docs and sg above
    val cand2 = minhashCandidatesFromSignature(sg, 2).localCheckpoint(true)
    // fused materialize+count for the truth set and the r=4 candidates
    // (r14, Traversals.checkpointCount): 2 jobs each → 1
    val (truth, nTrue) = Traversals.checkpointCount(
      jaccardVerifyCandidatesArr(shingleSets(docs), cand2)
        .filter(col("jacc_pct") >= jaccThresholdPct)
        .select("a", "b"))
    Seq(2, 4).map { r =>
      val (cand, nCand) =
        if (r == 2) (cand2, cand2.count())
        else Traversals.checkpointCount(minhashCandidatesFromSignature(sg, r))
      val nHit = cand.join(truth, Seq("a", "b"), "left_semi").count()
      (r, nCand, nHit,
        if (nTrue == 0) 1000000L else 1000000L * nHit / nTrue)
    }.toDF("r", "n_cand", "n_hit", "recall_ppm")
  }

  /** D4: 60-bit SimHash per document over the distinct token set (first 60
    * bits of md5(token), per-bit majority vote).
    *
    * Single-pass form (VERDICT r2 §wrong-3): one narrow per-row projection —
    * the codegen'd [[graft.functions.SimHash60]] expression folds the
    * distinct-token array straight to the packed 60-bit majority vote
    * (md5 + vote + pack in one compiled loop). NO shuffle and no row
    * amplification; the r2 form exploded every distinct token into 60
    * bit-rows (60×·tokens rows + a two-level groupBy) before aggregating,
    * and a pure higher-order-function fold (tried in between) was slower
    * than either — `transform`/`aggregate` lambdas are interpreted per
    * element. Values are identical across all forms: per (doc, bit) the
    * vote is the same order-independent integer sum. Documents with zero
    * tokens emit no row (the exploded form dropped them implicitly; the
    * oracle does too). */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash60.of(docs.sparkSession, col("ts")).as("simhash"))

  /** Token k-gram md5 hashes from a token-ARRAY column (empty below k
    * tokens). Hashing at projection time keeps the exploded rows
    * fixed-width 32-char strings instead of arbitrary-length text — the
    * shuffle key a 100 TB contamination join wants. Takes the already
    * tokenized array, NOT the raw text: higher-order-function lambdas
    * re-evaluate their input expression per element, so inlining
    * `tokens(text)` here would re-split the text once per gram
    * (O(tokens²) per document). Callers project the token array first. */
  def ngramHashes(ts: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    transform(ngramsRaw(ts, k), g => md5(g))

  /** Raw space-joined k-grams — [[ngramHashes]] is this plus a per-gram
    * md5; staged pipelines hash only the grams surviving a prefilter
    * ([[contaminationBloom]]). ONE gram builder: the size-guard/sequence/
    * slice chain used to be duplicated across the two forms (r9 review). */
  def ngramsRaw(ts: org.apache.spark.sql.Column, k: Int): org.apache.spark.sql.Column =
    when(size(ts) >= k,
      transform(sequence(lit(1), size(ts) - (k - 1)),
        i => concat_ws(" ", slice(ts, i, lit(k)))))
      .otherwise(array().cast("array<string>"))

  /** D6: benchmark-contamination check — for every corpus document NOT in
    * the held-out benchmark slice (doc_id ≡ 0 mod `benchMod` stands in for
    * the eval set), the number of distinct token `k`-grams that also occur
    * anywhere in the benchmark slice. Only contaminated documents emit a
    * row. This is the decontamination gate an LLM training pipeline runs
    * before every corpus release (n-gram collision against eval sets).
    *
    * Scale shape: the benchmark side reduces to distinct gram hashes and
    * is broadcast (eval sets are fixed and small; the corpus is the
    * 100 TB side). The corpus grams hit the broadcast join RAW — the join
    * is the filter, so the only corpus-sized work is the scan, and the
    * count-distinct shuffle carries contaminated rows only (normally a
    * vanishing fraction). Deduplicating corpus grams before the join
    * would instead shuffle every gram of every document. */
  def contamination(docs: DataFrame, k: Int = 5, benchMod: Int = 20): DataFrame = {
    val grams = docs.select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(ngramHashes(col("ts"), k)).as("h"))
    val bench = grams.filter(col("doc_id") % benchMod === 0).select("h").distinct()
    grams.filter(col("doc_id") % benchMod =!= 0)
      .join(broadcast(bench), "h")
      .groupBy("doc_id").agg(countDistinct("h").as("n_contam"))
  }

  /** D6b: the contamination gate with a BLOOM-FILTER prefilter — the
    * 100 TB evolution of [[contamination]] for when the eval-set gram
    * dictionary outgrows exact broadcast. The benchmark grams build a
    * compact Bloom sketch (a distributed aggregate; ~1.2 MB per million
    * grams at 1% FPP vs ~40 B/gram for the exact hash set), every corpus
    * gram probes the broadcast sketch MAP-SIDE, and only survivors (true
    * hits plus ~fpp false positives) enter the exact verify join — which
    * is then a shuffle join over a vanishing fraction of the corpus
    * instead of a broadcast of the whole dictionary. Bloom filters have
    * no false negatives and the verify join removes the false positives,
    * so the output is IDENTICAL to [[contamination]] (same oracle row for
    * row); only the plan shape changes. The probe is a driver-broadcast
    * sketch + scalar predicate, not a shuffle — the d6 pattern survives
    * eval sets of any size.
    *
    * The probe is STAGED cheap-to-expensive (VERDICT r8 #4 — the
    * previous form md5-hashed every corpus gram and round-tripped it
    * through a string UDF before the sketch could reject it, ~35 s at
    * the 500k-doc replay): the whole tokenize → k-gram → xxhash64 →
    * sketch-probe chain runs as ONE JVM eval per corpus DOCUMENT
    * ([[graft.functions.GramProbe]], the ShingleArray single-pass
    * pattern — the composed HOF chain interprets per gram and was
    * measured 20-135 s in its variants), so only surviving grams (true
    * hits + ~fpp) become rows, get their md5 verify key, and enter the
    * exact join. */
  def contaminationBloom(docs: DataFrame, k: Int = 5, benchMod: Int = 20,
                         fpp: Double = 0.01): DataFrame = {
    val spark = docs.sparkSession
    // the bench side feeds the sketch build, the verify join AND the
    // sketch sizing count — materialize once (eval sets are small
    // relative to the corpus)
    val benchRaw = docs.filter(col("doc_id") % benchMod === 0)
      .select(col("doc_id"), tokens(col("text")).as("ts"))
      .select(explode(ngramsRaw(col("ts"), k)).as("g"))
      .distinct().localCheckpoint(true)
    val bench = benchRaw.select(md5(col("g")).as("h"))
    val bf = benchRaw.select(xxhash64(col("g")).as("x"))
      .stat.bloomFilter("x", math.max(benchRaw.count(), 64L), fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    docs.filter(col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"),
        explode(graft.functions.GramProbe.of(spark, col("text"), k, bfBytes))
          .as("g"))
      .select(col("doc_id"), md5(col("g")).as("h"))
      .join(bench, "h")
      .groupBy("doc_id").agg(countDistinct("h").as("n_contam"))
  }

  /** D7: MOSS-style overlap candidates from winnowing fingerprints
    * ([[graft.TextOps.winnowPrints]]): pairs of documents sharing at
    * least `minShared` selected fingerprints, after dropping fingerprints
    * that occur in more than `maxDf` documents (the standard winnowing
    * high-document-frequency cut — boilerplate substrings would otherwise
    * pair everything with everything).
    *
    * Scale shape: the df cut bounds every fingerprint group at `maxDf`
    * docs, so the self-join fan-out is ≤ maxDf² per group BY
    * CONSTRUCTION — the same quadratic-only-inside-a-bucket guarantee as
    * the d2 LSH band join, with the df filter as the bucket bound. */
  def winnowOverlap(docs: DataFrame, maxDf: Int = 8, minShared: Int = 5): DataFrame = {
    // winnowPrints materializes the fingerprint sets (see its scaladoc);
    // the df cut and both pair-join sides re-explode from that cache
    val pr = TextOps.winnowPrints(docs)
    val rare = pr.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("fp")
    // both self-join branches consume prr — materialize it once, or the
    // prints⋈rare join (and the df aggregate feeding `rare`) run twice
    val prr = pr.join(rare, "fp").localCheckpoint(true)
    prr.select(col("fp"), col("doc_id").as("x"))
      .join(prr.select(col("fp").as("fp2"), col("doc_id").as("y")),
        col("fp") === col("fp2") && col("x") < col("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** X2: near-duplicate CLUSTERS — the production keeper rule. Pairwise
    * candidates (d2) are only evidence; what a corpus build acts on is
    * the transitive closure: connected components over the candidate
    * pair graph, keep ONE document per component. Emits (keep_id,
    * cluster_n) per multi-document cluster — the near-dup counterpart of
    * [[exact]]'s per-hash groups, composing the LSH pipeline with the
    * graph engine's label propagation ([[Traversals
    * .connectedComponents]]): candidate pairs are an edge list like any
    * other. Cluster count is bounded by true near-dup structure, so the
    * CC fixpoint runs on a graph ~|dup pairs|, not ~|corpus|. */
  def nearDupClusters(docs: DataFrame): DataFrame = {
    // checkpoint BEFORE symmetrizing: the union consumes `pairs` twice,
    // and the CC size gate adds a third action — uncheckpointed, the
    // whole LSH candidate pipeline re-ran per consumer (measured 3× the
    // d2 cost at the 100×-documents replay)
    val pairs = minhashCandidatesDirect(docs).localCheckpoint(true)
    val sym = pairs.select(col("a").as("src"), col("b").as("dst"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
    Traversals.connectedComponentsAuto(sym)
      .groupBy("label").agg(min("id").as("keep_id"), count(lit(1)).as("cluster_n"))
      .select("keep_id", "cluster_n")
  }

  /** E9: all near-dup pairs within Hamming radius `radius` of each other
    * in 60-bit [[simhash]] space, via bit-sampling LSH (Indyk–Motwani '98
    * specialized to the Hamming cube): split the fingerprint into
    * `nBands` disjoint contiguous bit bands and equi-join on (band,
    * band-key). EXACT by pigeonhole, not approximate: a pair at Hamming
    * distance ≤ radius differs in at most `radius` bands, so with
    * nBands ≥ radius+1 at least one band matches and the pair is
    * guaranteed a candidate. Default 4 bands × 15 bits covers radius 3.
    *
    * Scale shape: the band join is the only corpus-sized exchange, keyed
    * on 15-bit buckets (32768 per band) — candidate volume is collision-
    * bounded, never all-pairs; the exact bit_count rerank runs on
    * candidates only and is one codegen'd integer instruction per pair. */
  def hammingNearDupPairs(docs: DataFrame, radius: Int = 3,
                          nBands: Int = 4,
                          collapse: Boolean = true): DataFrame = {
    // COLLAPSE-FIRST output contract (the d3b discipline applied to the
    // pair set itself, VERDICT r10 next #5): near-dup structure is a
    // property of DISTINCT signatures, and identical fingerprints are
    // exact-dup territory (d1/d4 enumerate those groups) — so the
    // default emits one representative (min doc_id) per distinct
    // simhash and pairs BETWEEN representatives only. Output is then
    // ∝ cross-signature structure, never C(cluster, 2) inside a dup
    // cluster (measured on the 10×-replicated sf1 fixture: identical
    // simhashes made e9 output-bound, 9× its sf0.1 time — PERF.md r10).
    // `collapse = false` keeps the all-member-pairs form (ham-0 pairs
    // within clusters included) for callers that need every pair.
    val sh = simhash(docs).select(col("doc_id"), col("simhash"))
    val base =
      if (!collapse) sh
      else sh.groupBy("simhash").agg(min("doc_id").as("doc_id"))
        .select("doc_id", "simhash")
    hammingPairsFrom(base, radius, nBands)
  }

  /** The e9 band join generalized over any (doc_id, simhash) 60-bit
    * fingerprint frame — shared by e9 (text simhash) and m5 (media
    * blockhash): same pigeonhole guarantee, same collision-bounded
    * candidate volume.
    *
    * Collapse-first (the d3b discipline): the band self-join runs over
    * DISTINCT signatures only, so a group of C identical fingerprints —
    * the common case in a dup-heavy corpus — contributes ONE banded row
    * per band instead of C (the naive form shuffles 4·C² candidate rows
    * through the distinct for every such group). Identical-signature
    * pairs are emitted directly with ham = 0 (no bit_count, no band
    * join), and cross-signature candidate pairs expand back to member
    * pairs with two output-bounded joins. Same pair set by pigeonhole —
    * the guarantee is a property of the signature pair, not of which
    * document carries the signature. */
  def hammingPairsFrom(sh: DataFrame, radius: Int = 3,
                       nBands: Int = 4): DataFrame = {
    require(nBands >= radius + 1, "pigeonhole guarantee needs nBands > radius")
    val bits = 60 / nBands
    val mask = (1L << bits) - 1
    hammingPairsGeneric(sh, Seq("simhash"),
      (0 until nBands).map(b => expr(s"(simhash >> ${b * bits}) & $mask")),
      radius)
  }

  /** The collapse-first Hamming band-join pipeline, generic over a
    * multi-long fingerprint: `sigCols` are the (doc_id-keyed) signature
    * columns, `bandKeys` the disjoint band-key expressions over them.
    * Pigeonhole exactness is the CALLER's contract (`|bandKeys| ≥
    * radius + 1` over disjoint bit bands); this helper only runs the
    * shared plan: DISTINCT signatures → band equi-join → bit_count
    * rerank ≤ radius → expand back to member pairs, plus the direct
    * ham = 0 emit for identical signatures. One implementation now backs
    * e9, e9b, m5 and d12's band index (r8 review finding: the wide
    * variant had copy-adapted this whole chain). */
  private def hammingPairsGeneric(shIn: DataFrame, sigCols: Seq[String],
                                  bandKeys: Seq[Column],
                                  radius: Int): DataFrame = {
    // checkpoint the fingerprint projection ONCE: the consumers below
    // (distinct, two expand-back joins, the within self-join) would
    // otherwise recompute the upstream md5-vote projection per use
    // (ADVICE r8 — the wide variant already did this, e9/m5 did not)
    val sh = shIn.localCheckpoint(true)
    val xa = sigCols.map(c => s"xa_$c")
    val xb = sigCols.map(c => s"xb_$c")
    val sig = sh.select(sigCols.map(col): _*).distinct()
    val banded = sig.select(sigCols.map(col) :+
      posexplode(array(bandKeys: _*)).as(Seq("band", "key")): _*)
    val x = banded.select(col("band") +: col("key") +:
      sigCols.map(c => col(c).as(s"xa_$c")): _*)
    val y = banded.select(col("band").as("band2") +: col("key").as("key2") +:
      sigCols.map(c => col(c).as(s"xb_$c")): _*)
    val ham = sigCols.map(c => expr(s"bit_count(xa_$c ^ xb_$c)"))
      .reduce(_ + _).cast("bigint").as("ham")
    val sigPairs = x.join(y,
        col("band") === col("band2") && col("key") === col("key2")
          && struct(xa.map(col): _*) < struct(xb.map(col): _*))
      .select((xa ++ xb).map(col): _*).distinct()
      .select((xa ++ xb).map(col) :+ ham: _*)
      .filter(col("ham") <= radius)
    val cross = sigPairs
      .join(sh.select(col("doc_id").as("ida") +:
        sigCols.map(c => col(c).as(s"xa_$c")): _*), xa)
      .join(sh.select(col("doc_id").as("idb") +:
        sigCols.map(c => col(c).as(s"xb_$c")): _*), xb)
      .select(least(col("ida"), col("idb")).as("a"),
        greatest(col("ida"), col("idb")).as("b"), col("ham"))
    val within = sh.select(col("doc_id").as("a") +: sigCols.map(col): _*)
      .join(sh.select(col("doc_id").as("b") +: sigCols.map(col): _*), sigCols)
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0L).as("ham"))
    cross.unionByName(within)
  }

  /** 120-bit SimHash as TWO 60-bit halves (h0 = md5 bytes 0-7, h1 =
    * bytes 8-15; each half is the d4 vote over its own bits) — the wide
    * fingerprint the [[hammingNearDupPairsWide]] scale path bands over.
    * Same zero-shuffle projection shape as [[simhash]]; both halves ride
    * one pass over the token array (two codegen'd expressions). */
  def simhashWide(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    docs.select(col("doc_id"), array_distinct(tokens(col("text"))).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        graft.functions.SimHash60.of(s, col("ts"), 0).as("h0"),
        graft.functions.SimHash60.of(s, col("ts"), 1).as("h1"))
  }

  /** E9b: the 100 TB Hamming near-dup path — [[hammingNearDupPairs]]'
    * pigeonhole band join over the 120-bit [[simhashWide]] fingerprint,
    * 4 bands × 30 bits, exact for radius ≤ 3.
    *
    * Why it exists (measured, PERF.md sf10 corpus replay): e9's 60-bit
    * fingerprint fixes the band key at 15 bits, so random band
    * collisions grow ~n²/2^15 — at 500k docs the candidate set saturates
    * (94.6 s). 30-bit keys push the same saturation point out by 2^15:
    * candidate volume stays ∝ true near-dup structure through the
    * hundreds-of-millions-of-docs range, and the per-pair rerank is two
    * codegen'd bit_counts. Same collapse-first discipline: bands join
    * DISTINCT (h0, h1) signatures; identical-signature pairs emit
    * directly at ham 0. */
  def hammingNearDupPairsWide(docs: DataFrame, radius: Int = 3): DataFrame = {
    require(radius <= 3, "4 bands x 30 bits are exact only for radius <= 3")
    val mask = (1L << 30) - 1
    hammingPairsGeneric(simhashWide(docs), Seq("h0", "h1"),
      Seq(expr(s"h0 & $mask"), expr(s"(h0 >> 30) & $mask"),
        expr(s"h1 & $mask"), expr(s"(h1 >> 30) & $mask")),
      radius)
  }

  /** D12: INCREMENTAL snapshot dedup — how a production corpus actually
    * updates: only the incoming batch is curated, against the PRIOR
    * snapshot, never corpus-vs-corpus. Incoming docs are classified
    * exact-dup (text hash already in the prior snapshot — an anti-join
    * against the prior's hash set, broadcastable at scale), near-dup
    * (within Hamming `radius` of ANY prior simhash via the e9
    * bit-sampling bands — the prior side's banded index is built once
    * per snapshot and reused across batches), or kept. The fixture
    * simulates the snapshot boundary deterministically: doc_id %
    * `priorMod` == 0 is the prior corpus.
    *
    * Scale shape: both classifications are incoming-sized probes against
    * prior-side structures (hash set, band index) — cost ∝ batch, not ∝
    * total corpus, which is the entire point of incremental curation. */
  def incrementalSnapshotDedup(docs: DataFrame, priorMod: Long = 3,
                               radius: Int = 3, nBands: Int = 4): DataFrame = {
    require(nBands >= radius + 1, "pigeonhole guarantee needs nBands > radius")
    val bits = 60 / nBands
    val mask = (1L << bits) - 1
    val prior = docs.filter(col("doc_id") % priorMod === 0).localCheckpoint(true)
    val inc = docs.filter(col("doc_id") % priorMod =!= 0).localCheckpoint(true)
    val exactDup = inc
      .join(prior.select(md5(col("text")).as("ph")).distinct(),
        md5(inc("text")) === col("ph"), "left_semi")
      .select("doc_id").localCheckpoint(true)
    def band(df: DataFrame) = simhash(df).select(col("doc_id"), col("simhash"),
      posexplode(array((0 until nBands).map(b =>
        expr(s"(simhash >> ${b * bits}) & $mask")): _*)).as(Seq("band", "key")))
    val cand = band(inc)
      .select(col("doc_id").as("a"), col("simhash").as("ha"),
        col("band"), col("key"))
      .join(band(prior).select(col("simhash").as("hb"),
        col("band").as("b2"), col("key").as("k2")),
        col("band") === col("b2") && col("key") === col("k2"))
      .select("a", "ha", "hb").distinct()
      .filter(expr(s"bit_count(ha ^ hb) <= $radius"))
      .select(col("a").as("doc_id")).distinct().localCheckpoint(true)
    val nearDup = cand.join(exactDup, Seq("doc_id"), "left_anti")
    val kept = inc.select("doc_id")
      .join(exactDup, Seq("doc_id"), "left_anti")
      .join(cand, Seq("doc_id"), "left_anti")
    inc.agg(count(lit(1)).as("n_incoming"))
      .crossJoin(exactDup.agg(count(lit(1)).as("n_exact_dup")))
      .crossJoin(nearDup.agg(count(lit(1)).as("n_near_dup")))
      .crossJoin(kept.agg(count(lit(1)).as("n_kept"),
        coalesce(sum("doc_id"), lit(0L)).as("kept_id_sum")))
  }

  /** X3: near-dup-cluster-safe train/eval split — the leakage guard a
    * training-data build runs when carving held-out data: assign the
    * WHOLE near-duplicate cluster (x2's transitive closure over MinHash
    * candidates) to one side, so a paraphrase of an eval document can
    * never sit in train. Split is md5-deterministic on the cluster
    * representative (min doc_id; singletons represent themselves), so
    * re-runs and engines agree exactly: bucket = md5(salt‖rep) mod 100,
    * < (100−evalPct) → train.
    *
    * Scale shape: candidate generation is the d2 banded join, the CC
    * fixpoint runs on the pair graph (~|near-dup structure|, not
    * |corpus|), and the final assignment is one broadcast-ably small
    * label join + a per-row hash — no corpus-sized shuffle after the
    * first. */
  def clusterSafeSplit(docs: DataFrame, evalPct: Int = 10,
                       salt: String = "split"): DataFrame = {
    // one-pass symmetrization (r14): the union form evaluated the whole
    // LSH candidate pipeline once per branch — Tables.symmetrize emits
    // both directions from a single evaluation
    val sym = Tables.symmetrize(
      minhashCandidatesDirect(docs).select(col("a").as("src"), col("b").as("dst")),
      Seq("src", "dst"))
    val labels = Traversals.connectedComponents(sym)
      .withColumnRenamed("id", "doc_id")
    docs.select("doc_id").join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("rep"))
      .withColumn("bucket", expr(
        s"cast(conv(substring(md5(concat('$salt|', cast(rep as string))), 1, 15), 16, 10) as bigint) % 100"))
      .withColumn("split",
        when(col("bucket") < lit(100L - evalPct), lit("train")).otherwise(lit("eval")))
      .select("doc_id", "rep", "split")
  }

  /** D10: quality-aware dedup keeper — x2's clusters with the PRODUCTION
    * keeper rule: keep the best copy, not the lowest id. Per near-dup
    * cluster the keeper is argmax by (is_quality desc, n_tokens desc,
    * doc_id asc) over [[TextOps.qualityScore]]'s columns — a paraphrase
    * cluster keeps its longest quality member, so dedup never deletes
    * the good copy in favor of a truncated one. Returns one row per
    * cluster: (keep_id, cluster_n, n_quality).
    *
    * Scale shape: candidates and the CC fixpoint are the x2 machinery
    * (pair-graph sized); quality columns are a projection over the
    * cluster MEMBERS only (semi-join-restricted corpus scan), and the
    * per-cluster argmax is one window over rows already grouped by
    * label. */
  def qualityKeeper(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // one-pass symmetrization (r14): the union form evaluated the whole
    // LSH candidate pipeline once per branch — Tables.symmetrize emits
    // both directions from a single evaluation
    val sym = Tables.symmetrize(
      minhashCandidatesDirect(docs).select(col("a").as("src"), col("b").as("dst")),
      Seq("src", "dst"))
    val labels = Traversals.connectedComponents(sym)
      .withColumnRenamed("id", "doc_id")
    val q = TextOps.qualityScore(docs)
      .select("doc_id", "n_tokens", "is_quality")
    val w = Window.partitionBy("label")
      .orderBy(col("is_quality").desc, col("n_tokens").desc, col("doc_id"))
    labels.join(q, "doc_id")
      .withColumn("rk", row_number().over(w))
      .groupBy("label")
      .agg(max(when(col("rk") === 1, col("doc_id"))).as("keep_id"),
        count(lit(1)).as("cluster_n"),
        sum(col("is_quality").cast("long")).as("n_quality"))
      .select("keep_id", "cluster_n", "n_quality")
  }

  /** D9: SemDeDup-style SEMANTIC dedup (Abbas et al. '23: deduplicate by
    * embedding-space similarity, which catches paraphrases and
    * translations that lexical MinHash misses): the embedding near-dup
    * pairs ([[Similarity.cosinePairsLsh]] — hyperplane-LSH buckets, exact
    * cosine verify inside buckets only) closed transitively into
    * clusters by the same CC label propagation as [[nearDupClusters]],
    * one keeper (min vec_id) per cluster. The embedding-space twin of
    * x2's lexical clusters: candidate generation is bucketed, the CC
    * fixpoint runs on the pair graph (~|near-dup structure|), and
    * nothing is corpus-quadratic. */
  def semanticClusters(emb: DataFrame, minCosScaled: Long = 400000L): DataFrame = {
    // checkpointed for the same reason as [[nearDupClusters]]: the
    // symmetrizing union + the CC size gate would otherwise re-run the
    // whole LSH-bucket + exact-verify pipeline per consumer
    val pairs = Similarity.cosinePairsLsh(emb, minCosScaled).localCheckpoint(true)
    val sym = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionByName(pairs.select(col("y").as("src"), col("x").as("dst")))
    // the pair graph is near-dup-structure-sized, never corpus-sized —
    // the size-gated CC solves it locally when it fits
    Traversals.connectedComponentsAuto(sym)
      .groupBy("label").agg(min("id").as("keep_id"), count(lit(1)).as("cluster_n"))
      .select("keep_id", "cluster_n")
  }

  /** D8: span-level exact dedup — the C4 / "Deduplicating Training Data
    * Makes Language Models Better" (Lee et al. '21) operator that removes
    * duplicated SPANS while keeping the rest of each document, rather
    * than dropping whole documents. The span unit here is a fixed
    * `blockWords`-word block (the fixture's synthetic text has no
    * newline paragraphs; with real corpora pass paragraphs by splitting
    * on '\n\n' instead — the pipeline below is unit-agnostic).
    *
    * Semantics: a block's globally FIRST occurrence — min (doc_id, idx)
    * over every occurrence of the identical block text, across documents
    * and within one document — survives; all later occurrences are
    * removed. Each document is then reassembled from its surviving
    * blocks in order. Emits per document: total blocks, surviving
    * blocks, and an md5 fingerprint of the reassembled text.
    *
    * Scale shape (the 100 TB story): blocking is a narrow per-row
    * projection (the token array is projected FIRST so the transform
    * lambda does not re-split the text per block — the [[ngramHashes]]
    * trap); winner election is ONE shuffle keyed by md5(block) (fixed
    * 32-char shuffle key, partial min combine absorbs hot boilerplate
    * blocks map-side); reassembly is ONE shuffle keyed by doc_id. The
    * winner rows ARE the survivors — no second pass over the corpus. */
  def spanDedup(docs: DataFrame, blockWords: Int = 10): DataFrame = {
    val toked = docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
    val blocks = toked.select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, (size(ts) + ${blockWords - 1}) div $blockWords - 1), " +
            s"i -> array_join(slice(ts, i * $blockWords + 1, $blockWords), ' '))")))
      .toDF("doc_id", "idx", "block")
      .localCheckpoint(true) // feeds winner election AND the per-doc totals
    val winners = blocks
      .groupBy(md5(col("block")).as("h"))
      .agg(min(struct(col("doc_id"), col("idx"), col("block"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.idx").as("idx"),
        col("w.block").as("block"))
    val rebuilt = winners.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      md5(array_join(expr("transform(array_sort(collect_list(struct(idx, block))), x -> x.block)"),
        " ")).as("kept_fp"))
    blocks.groupBy("doc_id").agg(count(lit(1)).as("n_blocks"))
      .join(rebuilt, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_kept"))
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        coalesce(col("kept_fp"), md5(lit(""))).as("kept_fp"))
  }

  /** D14: shingle-set CONTAINMENT over the d2 candidate pairs — Broder's
    * asymmetric companion to resemblance ('97): C(A→B) = |A∩B| / |A|
    * catches quotes, excerpts and supersets that symmetric Jaccard
    * dilutes (a 10-line quote inside a 1000-line doc has tiny
    * resemblance but containment ≈ 1 from the quote's side). Both
    * directions in exact ppm integers.
    *
    * Scale shape: identical to the d3b discipline — the corpus collapses
    * to exact-dup representatives FIRST (identical texts have containment
    * 1 trivially; without the collapse a 10×-replicated corpus pays ~100×
    * on every dup cluster — measured 39 s at sf1 vs 2.5 s collapsed),
    * candidates come from the banded MinHash join (never all-pairs), the
    * shingle self-join is restricted to candidate documents, and the
    * intersection count partial-combines per (a, b). */
  def containmentVerify(docs: DataFrame, allPairs: Boolean = false): DataFrame = {
    // zero-shuffle signature + shingle-set projections and the per-pair
    // array intersection (r15 — the d16 rationale): the band join over
    // the codegen signature is the only corpus-sized exchange; the
    // asymmetric containments come straight off the attached sets
    val base = verifyBase(docs, allPairs).localCheckpoint(false)
    val cand = minhashCandidatesDirect(base).localCheckpoint(true)
    val sets = shingleSets(base)
    cand
      .join(sets.select(col("doc_id").as("a"), col("ss").as("sa")), "a")
      .join(sets.select(col("doc_id").as("b"), col("ss").as("sb")), "b")
      .select(col("a"), col("b"),
        size(col("sa")).cast("long").as("n_a"),
        size(col("sb")).cast("long").as("n_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("inter"))
      .select(col("a"), col("b"), col("n_a"), col("n_b"), col("inter"),
        expr("1000000 * inter div n_a").as("c_ab_ppm"),
        expr("1000000 * inter div n_b").as("c_ba_ppm"))
  }

  /** D16: MinHash estimator calibration — for every candidate pair (on
    * the exact-dup representatives, the d3b discipline), the Jaccard
    * ESTIMATE the 8-hash MinHash signature implies (matching components
    * × 125000 ppm — the unbiased estimator the LSH banding thresholds
    * are derived from, Broder '97) next to the EXACT shingle Jaccard and
    * the absolute error. This is the table that justifies the d2 band
    * configuration: if |est − exact| were large at the near-dup
    * threshold, the bands would be mis-tuned. All integers.
    *
    * Scale shape: signatures are the per-row codegen projection (d2);
    * the exact side pays the candidate-restricted shingle join (d3b's
    * collapse-first bound) — the calibration runs on candidates only,
    * never the corpus. */
  def minhashCalibration(docs: DataFrame): DataFrame = {
    // checkpoint the shared representatives frame ONCE: both the
    // signature and shingle branches re-executed the d1 exact-dedup
    // shuffle otherwise
    // lazy (r14): reps materializes inside its first consumer's stages
    // and sg is a cheap per-row projection over it — neither needs the
    // eager checkpoint's extra full-pass job
    val reps = representatives(docs).localCheckpoint(false)
    val sg = signatureDirect(reps).localCheckpoint(false)
    val matchExpr = (0 until NumHashes)
      .map(k => s"CASE WHEN a_m$k = b_m$k THEN 1 ELSE 0 END")
      .mkString(" + ")
    // candidates off the SAME signature frame + array-form exact verify
    // (r15): the explode+distinct shingle exchange and the exploded
    // signatureFrom re-shuffle are gone — the candidate band join is
    // this entry's only corpus-sized exchange; its eager checkpoint
    // materializes reps and sg for every consumer
    val cand = minhashCandidatesFromSignature(sg).localCheckpoint(true)
    val exact = jaccardVerifyCandidatesArr(shingleSets(reps), cand)
      .select(col("a"), col("b"), col("jacc_pct"))
    val sa = sg.select(col("doc_id").as("a") +:
      (0 until NumHashes).map(k => col(s"m$k").as(s"a_m$k")): _*)
    val sb = sg.select(col("doc_id").as("b") +:
      (0 until NumHashes).map(k => col(s"m$k").as(s"b_m$k")): _*)
    exact.join(sa, "a").join(sb, "b")
      .select(col("a"), col("b"),
        (expr(matchExpr) * lit(1000000L / NumHashes)).cast("long").as("est_ppm"),
        (col("jacc_pct") * 10000L).cast("long").as("jacc_ppm"))
      .withColumn("abs_err_ppm", abs(col("est_ppm") - col("jacc_ppm")))
  }

  /** D15: duplicate-aware sampling weights — soft dedup (the
    * retention-preserving alternative to dropping rows, the move
    * dedup-sensitive mixtures make): every document keeps its row but
    * carries weight 1/|exact-dup cluster| in ppm, so a downstream
    * weighted sampler sees each distinct text with total mass 1 however
    * many times it was crawled. d1's one keyed shuffle plus the join
    * back (hash-keyed, broadcastable when the dup table is small). */
  def dedupWeights(docs: DataFrame): DataFrame = {
    val h = docs.select(col("doc_id"), md5(col("text")).as("h"))
    val cl = h.groupBy("h").agg(count(lit(1)).as("cluster_n"))
    h.join(cl, "h")
      .select(col("doc_id"), col("cluster_n"),
        expr("1000000 div cluster_n").as("weight_ppm"))
  }

  /** D13: URL-canonicalization dedup — the crawl-curation step that runs
    * BEFORE any content hashing: a crawler sees the same page under
    * mixed-case hosts, `www.` prefixes, tracking parameters (`utm_*`,
    * `ref`) and fragments; canonicalizing the URL collapses those
    * variants without touching page bytes. The synthetic corpus carries
    * no URL column, so each document gets a doc_id/source-derived URL
    * exhibiting every variant class (identical expression in the oracle),
    * and the operator is the canonicalizer itself: strip fragment →
    * strip tracking params → lowercase scheme+host → drop `www.` —
    * a fixed normalization chain (like [[graft.TextOps]]'s PII order,
    * later steps cannot re-expose earlier ones). Output: per canonical
    * URL, the duplicate-cluster size and the kept doc (min doc_id) — the
    * d1 exact-dedup contract keyed on canonical URL instead of content.
    *
    * Scale shape: canonicalization is a per-row regex projection (no
    * UDF); the only exchange is the canonical-key aggregation, which
    * partial-combines — d1's one-keyed-shuffle shape. */
  def urlCanonicalDedup(docs: DataFrame): DataFrame = {
    val url = concat(
      lit("https://WWW."), col("source"), lit(".Example.COM/p/"),
      (col("doc_id") % 50).cast("string"),
      lit("/?utm_source=s"), (col("doc_id") % 3).cast("string"),
      lit("&ref=r"), (col("doc_id") % 7).cast("string"),
      lit("&id="), (col("doc_id") % 25).cast("string"),
      lit("#sec"), (col("doc_id") % 4).cast("string"))
    val noFrag = regexp_replace(url, "#.*$", "")
    val noTrack = regexp_replace(
      regexp_replace(noFrag, "(utm_[a-z_]+|ref)=[^&#]*&?", ""),
      "[?&]+$", "")
    val host = regexp_extract(noTrack, "^https?://[^/]*", 0)
    docs.select(col("doc_id"), noTrack.as("u"), host.as("h"))
      .select(col("doc_id"),
        concat(regexp_replace(lower(col("h")), "^https://www\\.", "https://"),
          expr("substring(u, length(h) + 1)")).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keeper"))
  }

  /** The r2 explode-per-bit SimHash derivation — kept (test-pinned against
    * [[simhash]]) as the shape the oracle SQL mirrors. */
  private[graft] def simhashExploded(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("t"))
      .withColumn("h", expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)"))
    tok.withColumn("bit", explode(sequence(lit(0), lit(59))))
      .groupBy("doc_id", "bit")
      .agg(sum(expr("2 * ((h >> bit) & 1) - 1")).as("v"))
      .groupBy("doc_id")
      .agg(sum(expr("case when v > 0 then shiftleft(cast(1 as bigint), bit) else 0L end")).as("simhash"))
  }
}
