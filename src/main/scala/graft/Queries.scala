package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's named composite queries (SURVEY.md §2.5) as single
  * Catalyst plans. Point-query parameters ("vertex v") are themselves
  * one-row aggregates joined in broadcast, so each query stays a single
  * declarative plan — no driver-side collect — and the DuckDB oracle uses
  * the same scalar subquery. */
object Queries {

  /** Smallest src id — the deterministic "query vertex" used across the
    * parity suite (a stand-in for the reference examples' hand-picked ids,
    * e.g. SocialNetworkExample.scala:143). */
  def minSrc(edges: DataFrame): DataFrame = edges.agg(min("src").as("qv"))

  /** Q1/Q7 friendsOfFriendsExcl + top-20 (reference Queries.scala:49-54):
    * hop1 = distinct out-neighbors of v; hop2 = every out-edge of hop1
    * (repeats kept), excluding v itself — NOTE the reference excludes only
    * the start vertex (`!start.hasVertex(dst)`), not the direct friends,
    * despite its doc comment; we replicate the code, not the comment.
    * Count per destination = number of 2-hop paths; top-20 by (paths desc,
    * id) — ties broken by id so the cut is deterministic. */
  def friendsOfFriendsExclTop20(edges: DataFrame): DataFrame = {
    val v = minSrc(edges)
    val hop1 = edges.join(broadcast(v), col("src") === col("qv"))
      .select(col("dst").as("mid"), col("qv")).distinct()
    val e2 = edges.select(col("src").as("mid"), col("dst"))
    hop1.join(e2, "mid")
      .filter(col("dst") =!= col("qv"))
      .groupBy(col("dst").as("id")).agg(count(lit(1)).as("paths"))
      .orderBy(col("paths").desc, col("id")).limit(20)
  }

  /** Q1 SERVED: identical result to [[friendsOfFriendsExclTop20]], composed
    * as a SERVING-path read — the reference's native shape for this query
    * (two rounds of edge-shard lookups over sorted shards,
    * QueryShard.java:207-253; FoF in the reference is never a scan).
    * Deliberately breaks this object's no-driver-collect rule (the
    * [[DurableStore.pointReadLocal]] discipline): hop 1 collects the query
    * vertex's ≤degree-sized neighbor list, hop 2 pushes `src IN (mids)` as
    * a LITERAL predicate into the scan. Over a src-sorted range-disjoint
    * store (and its union with the reversed view) both hops prune to the
    * files/row groups whose footer min/max cover the probe keys — at the
    * 400M-edge envelope this answers in ~5.6 s where the one-plan scan
    * form takes ~110 s (PERF.md round-9 envelope table). The broadcast-
    * join form stays the right plan when the FoF is a SUBQUERY of a larger
    * plan; this is the right plan when it is THE query, served online. */
  def friendsOfFriendsExclTop20Served(edges: DataFrame): DataFrame = {
    val minRow = edges.agg(min("src")).head()
    // empty edge frame: min(src) is NULL — return the scan form's empty
    // result instead of NPE-ing on the primitive get (r9 review finding)
    if (minRow.isNullAt(0))
      return edges.limit(0).select(col("src").as("id"),
        lit(0L).as("paths"))
    val v0 = minRow.getLong(0)
    servedFofFrom(
      out = keys => keyFilter(edges, "src", keys).select("src", "dst"),
      in = _ => edges.limit(0).select("src", "dst"),
      v0 = v0)
  }

  /** Hop-1 fanout cap of [[servedFofFrom]]: past it per-key routing
    * prunes nothing, and the query belongs to the scan form. */
  private val MaxServedFanout: Int = 1 << 20

  /** Literal-IN width cap for served key pushes: up to this many keys a
    * hop travels as `col.isin(keys)` (Catalyst InSet — footer/page
    * prunable, plan-string-light); past it [[keyFilter]] switches to a
    * broadcast semi-join. 8192 longs ≈ 64 KB broadcast either way, but a
    * 64k-literal plan string/InSet was measurably heavy to analyze and
    * broadcast (VERDICT r12 wrong #3). */
  val InLiteralMax: Int = 8192

  /** Push a key set into `df` on column `c` — the THREE-regime bridge of
    * VERDICT r12 next #6: literal `isin` while the set is small (InSet,
    * row-group/page prunable inside routed files), BROADCAST SEMI-JOIN
    * past [[InLiteralMax]] (one job, no literal blowup, the hub regime
    * between the InSet hop and the full scan form). File-level routing
    * stays with the caller either way (manifest stats bound the scanned
    * file set before this filter applies). */
  def keyFilter(df: DataFrame, c: String, keys: Seq[Long]): DataFrame =
    if (keys.size <= InLiteralMax) df.filter(col(c).isin(keys: _*))
    else {
      val s = df.sparkSession
      import s.implicits._
      df.join(broadcast(keys.toDF("_k")), col(c) === col("_k"), "left_semi")
    }

  /** The ONE served-FoF composition (VERDICT r9 next #6): two rounds of
    * point lookups over a pair of direction-pruned edge readers.
    * `out(keys)` must return exactly the edge rows with `src ∈ keys`;
    * `in(keys)` exactly the rows with `dst ∈ keys` — each from whatever
    * physical substrate prunes that direction (src-sorted primary files
    * for `out`, the dst-bucketed in-edge mirror for `in` — the reference's
    * per-shard in-edge index, QueryShard.java:662-812). The composition
    * itself is substrate-agnostic: hop 1 collects v0's (out ∪ in)
    * neighbors under the pointReadLocal serving discipline, hop 2 pushes
    * the collected mids back through both readers as LITERAL `IN`
    * predicates, repeats kept (2-hop path multiplicity), the start vertex
    * excluded — row-equal to [[friendsOfFriendsExclTop20]] over the
    * symmetric view `E ∪ reverse(E)` when both readers cover E (and to
    * the directed scan form when `in` is empty). Callers:
    * [[graft.DurableStore.servedFof]] (manifest-routed store + mirror)
    * and the envelope probes' parquet-directory pair. */
  def servedFofFrom(out: Seq[Long] => DataFrame, in: Seq[Long] => DataFrame,
                    v0: Long, topK: Int = 20,
                    hop1: Option[Seq[Long]] = None): DataFrame = {
    // `hop1`: v0's already-looked-up neighbor ids, when the caller can
    // answer the single-key first round off-engine (the store's
    // pointReadLocal/pointReadLocalDst driver reads) — the composition
    // then costs ONE Spark job (the hop-2 aggregate) instead of two.
    // Must be the same set the readers would return; equality is pinned
    // by PropertySpec on the store path.
    val mids = hop1.getOrElse(
      out(Seq(v0)).select(col("dst").as("id"))
        .unionByName(in(Seq(v0)).select(col("src").as("id")))
        .distinct().collect().map(_.getLong(0)).toSeq).distinct
    // three regimes bridge the fanout scale (VERDICT r12 next #6): the
    // readers push small mid sets as LITERAL InSet predicates
    // ([[keyFilter]] ≤ InLiteralMax, page-prunable), larger ones as a
    // BROADCAST SEMI-JOIN (still one job, no literal blowup); only a
    // vertex whose 1-hop neighborhood rivals the vertex set itself —
    // where per-key routing stops pruning anything — belongs to the
    // scan form, and THAT cliff fails loudly here
    require(mids.size <= MaxServedFanout,
      s"fofServed: query vertex $v0 has ${mids.size} neighbors " +
        s"(> $MaxServedFanout) — use friendsOfFriendsExclTop20 (scan form)")
    val hop2 =
      if (mids.isEmpty) out(Seq(v0)).select(col("dst").as("id")).limit(0)
      else out(mids).select(col("dst").as("id"))
        .unionByName(in(mids).select(col("src").as("id")))
    hop2.filter(col("id") =!= v0)
      .groupBy(col("id")).agg(count(lit(1)).as("paths"))
      .orderBy(col("paths").desc, col("id")).limit(topK)
  }

  /** The hop-2 aggregate of [[servedFofFrom]] computed DRIVER-LOCALLY —
    * the same contract in one hash map: `hop2` is the multiset of 2-hop
    * endpoint ids (repeats kept — path multiplicity), the start vertex
    * is excluded, and the cut is top-k by (paths desc, id). Kept here so
    * the served FoF's semantics live in ONE place whichever substrate
    * answers it ([[graft.DurableStore.servedFof]]'s zero-job local path
    * is the caller); row-equality to the job form is property-pinned. */
  private[graft] def fofTopKLocal(hop2: Array[Long], v0: Long,
                                  topK: Int): Seq[(Long, Long)] = {
    // open-addressed long→long counter (power-of-two capacity, linear
    // probing, fibonacci hash; an empty slot is count == 0 — a present
    // key always counts ≥ 1), allocation-free per value. Sized by the
    // DISTINCT-key count (it starts small and doubles past 50% load):
    // the hop-2 multiset is millions of values but its distinct 2-hop
    // neighborhood is vertex-sized, and a table sized by the multiset
    // spent more time zeroing 64 MB than a boxed HashMap spent boxing.
    var cap = 1 << 12
    var mask = cap - 1
    var ids = new Array[Long](cap)
    var cnt = new Array[Long](cap)
    var distinct = 0
    def grow(): Unit = {
      val (oi, oc, ocap) = (ids, cnt, cap)
      cap <<= 1; mask = cap - 1
      ids = new Array[Long](cap); cnt = new Array[Long](cap)
      var i = 0
      while (i < ocap) {
        if (oc(i) != 0L) {
          var idx = ((oi(i) * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
          while (cnt(idx) != 0L) idx = (idx + 1) & mask
          ids(idx) = oi(i); cnt(idx) = oc(i)
        }
        i += 1
      }
    }
    var i = 0
    while (i < hop2.length) {
      val k = hop2(i)
      if (k != v0) {
        // grow BEFORE probing so a fresh key is never inserted into a
        // table that is about to rehash (it would be dropped: rehash
        // carries cnt != 0 entries only)
        if ((distinct + 1) * 2 > cap) grow()
        var idx = ((k * 0x9E3779B97F4A7C15L) >>> 40).toInt & mask
        while (cnt(idx) != 0L && ids(idx) != k) idx = (idx + 1) & mask
        if (cnt(idx) == 0L) { ids(idx) = k; distinct += 1 }
        cnt(idx) += 1L
      }
      i += 1
    }
    val out = new Array[(Long, Long)](distinct)
    var j = 0
    i = 0
    while (i < cap) {
      if (cnt(i) != 0L) { out(j) = (ids(i), cnt(i)); j += 1 }
      i += 1
    }
    out.toSeq.sortBy { case (id, n) => (-n, id) }.take(topK)
  }

  /** Q3 friendsOfFriends: plain distinct 2-hop reachable set (reference
    * Queries.scala:72-76). */
  def friendsOfFriends(edges: DataFrame): DataFrame = {
    val v = minSrc(edges)
    val hop1 = edges.join(broadcast(v), col("src") === col("qv"))
      .select(col("dst").as("mid")).distinct()
    hop1.join(edges.select(col("src").as("mid"), col("dst")), "mid")
      .select(col("dst").as("id")).distinct()
  }

  /** Q4 inducedSubgraph (reference Queries.scala:87-103): edges with both
    * endpoints in V — two semi-joins. V is unbounded (whole-graph vertex
    * sets are legal), so no broadcast hint: AQE picks broadcast only when
    * V is actually small. */
  def inducedSubgraph(edges: DataFrame, v: DataFrame): DataFrame = {
    val ids = v.toDF("id")
    edges
      .join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
      .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
      .select("src", "dst", "etype")
  }

  /** Q8 inducedNeighborhoodGraph (reference SubgraphFrequencies.scala:92-99)
    * over a canonical (src<dst, dedup) undirected projection: ego's
    * neighbors, then the induced edges among them. */
  def egoNet(cpEdges: DataFrame, ego: DataFrame): DataFrame = {
    val nb = cpEdges.join(broadcast(ego), col("src") === col("qv"))
      .select(col("dst").as("id"))
      .union(cpEdges.join(broadcast(ego), col("dst") === col("qv"))
        .select(col("src").as("id")))
      .distinct()
    inducedSubgraph(cpEdges.withColumn("etype", lit(0)), nb).select("src", "dst")
  }

  /** Q9 (deterministic variant of reference SubgraphFrequencies.scala:107-148):
    * exact wedge + triangle census of a canonical undirected graph instead
    * of the reference's unseeded sampling, so the oracle can hash-match. */
  def subgraphCensus(cpEdges: DataFrame): DataFrame = {
    val e = cpEdges.select("src", "dst")
    val deg = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val wedges = deg.agg(expr("sum((d * (d - 1)) div 2)").as("wedges"))
    val ab = e.select(col("src").as("a"), col("dst").as("b"))
    val bc = e.select(col("src").as("b"), col("dst").as("c"))
    val ac = e.select(col("src").as("a"), col("dst").as("c"))
    val triangles = ab.join(bc, "b").join(ac, Seq("a", "c"), "left_semi")
      .agg(count(lit(1)).as("triangles"))
    wedges.crossJoin(triangles)
  }

  /** Q9b (seeded sampled variant — the reference's ACTUAL access pattern,
    * SubgraphFrequencies.scala:107-148): estimate per-ego 3-vertex
    * subgraph profiles by sampling, instead of [[subgraphCensus]]'s exact
    * global census. Ego choice is the reference's `DB.randomVertex()`
    * made deterministic: vertices ordered by md5. Per ego, the induced
    * neighborhood graph is built exactly like the reference's
    * `inducedNeighborhoodGraph` (edges among the ego's neighbors; the
    * subgraph's VERTEX set is the endpoints of those edges, so isolated
    * neighbors drop out), trivial egos (<4 such vertices) are skipped,
    * and `samplesPerEgo` seeded triples are drawn per ego — each triple's
    * induced edge count (0..3) is tallied. Returns (ego, e0, e1, e2, e3),
    * e0+e1+e2+e3 = samplesPerEgo: integer counts, not the reference's
    * float fractions, so the oracle hash cannot drift.
    *
    * Scale shape: per-ego cost is bounded by samplesPerEgo — NOT by
    * |neighborhood|³, which is the reason the reference samples instead
    * of enumerating (its marquee graphs have hub egos whose induced
    * neighborhoods are near-cliques). All egos estimate in parallel; the
    * ego list and index maps are broadcast-small; the only data-sized
    * scans are the two neighbor joins against the edge set. Candidates
    * are over-sampled 3× in md5 order so eligibility (≥4 subgraph
    * vertices) is decided after inducing only O(nEgos) neighborhoods,
    * never all of them. */
  def sampledSubgraphFrequencies(canon: DataFrame, nEgos: Int = 12,
                                 samplesPerEgo: Int = 400): DataFrame = {
    val e = canon.select("src", "dst").localCheckpoint(true)
    val deg = e.select(col("src").as("id")).unionByName(e.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    // deg >= 4 is necessary (never sufficient) for >= 4 subgraph vertices
    val cand = deg.filter(col("d") >= 4)
      .orderBy(md5(concat(lit("q9b|"), col("id"))), col("id"))
      .limit(3 * nEgos)
      .select(col("id").as("ego")).localCheckpoint(true)
    val nb = e.join(broadcast(cand), col("src") === col("ego"))
      .select(col("ego"), col("dst").as("v"))
      .unionByName(e.join(broadcast(cand), col("dst") === col("ego"))
        .select(col("ego"), col("src").as("v")))
      .distinct().localCheckpoint(true)
    // induced edges among each candidate ego's neighbors (canon has
    // src < dst, so ie is canonical per ego too)
    val ie = e
      .join(nb.select(col("ego"), col("v").as("src")), Seq("src"))
      .join(nb.select(col("ego"), col("v").as("dst")), Seq("ego", "dst"))
      .select("ego", "src", "dst").localCheckpoint(true)
    val vset = ie.select(col("ego"), col("src").as("v"))
      .unionByName(ie.select(col("ego"), col("dst").as("v"))).distinct()
      .localCheckpoint(true)
    val egos = vset.groupBy("ego").agg(count(lit(1)).as("sz"))
      .filter(col("sz") >= 4)
      .orderBy(md5(concat(lit("q9b|"), col("ego"))), col("ego"))
      .limit(nEgos).localCheckpoint(true)
    val vlist = vset.join(broadcast(egos.select("ego")), Seq("ego"))
      .withColumn("idx", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("ego").orderBy("v")) - 1)
    // three 32-bit md5 draws per (ego, sample) pick 3 DISTINCT indices
    // via the standard shift trick: i2 skips i1, i3 skips both in order
    def h(k: Int) = expr("cast(conv(substring(md5(concat('q9b|', " +
      s"cast(ego as string), '_', cast(j as string), '_$k')), 1, 8), 16, 10) as bigint)")
    val samples = egos
      .select(col("ego"), col("sz"),
        explode(sequence(lit(0), lit(samplesPerEgo - 1))).as("j"))
      .withColumn("i1", h(1) % col("sz"))
      .withColumn("t2", h(2) % (col("sz") - 1))
      .withColumn("i2", col("t2") + when(col("t2") >= col("i1"), 1L).otherwise(0L))
      .withColumn("t3", h(3) % (col("sz") - 2))
      .withColumn("i3a", col("t3") +
        when(col("t3") >= least(col("i1"), col("i2")), 1L).otherwise(0L))
      .withColumn("i3", col("i3a") +
        when(col("i3a") >= greatest(col("i1"), col("i2")), 1L).otherwise(0L))
    def pick(iCol: String, out: String) =
      vlist.select(col("ego"), col("idx").cast("long").as(iCol), col("v").as(out))
    val tri = samples
      .join(pick("i1", "v1"), Seq("ego", "i1"))
      .join(pick("i2", "v2"), Seq("ego", "i2"))
      .join(pick("i3", "v3"), Seq("ego", "i3"))
    val pairs = tri.select(col("ego"), col("j"), explode(array(
        struct(least(col("v1"), col("v2")).as("src"), greatest(col("v1"), col("v2")).as("dst")),
        struct(least(col("v1"), col("v3")).as("src"), greatest(col("v1"), col("v3")).as("dst")),
        struct(least(col("v2"), col("v3")).as("src"), greatest(col("v2"), col("v3")).as("dst"))))
        .as("p"))
      .select(col("ego"), col("j"), col("p.src").as("src"), col("p.dst").as("dst"))
    val cnt = pairs
      .join(ie.withColumn("ex", lit(1L)), Seq("ego", "src", "dst"), "left_outer")
      .groupBy("ego", "j").agg(sum(coalesce(col("ex"), lit(0L))).as("c"))
    cnt.groupBy("ego").agg(
      sum(when(col("c") === 0, 1L).otherwise(0L)).as("e0"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("e1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).as("e2"),
      sum(when(col("c") === 3, 1L).otherwise(0L)).as("e3"))
  }

  /** Full-graph triangle enumeration by DEGREE-ORDERED orientation (the
    * scalable companion to [[subgraphCensus]]'s census, which the reference
    * samples because exact global counting is expensive in its model,
    * SubgraphFrequencies.scala:107-148). Every undirected edge is oriented
    * from its lower-(degree, id) endpoint to the higher; wedges are
    * generated only at each triangle's LOWEST vertex and closed with one
    * join. Oriented out-degrees are bounded by O(sqrt m), so a power-law
    * hub (which would contribute C(deg,2) wedges naively) contributes
    * none — the property that makes this the 100 TB-safe plan: three
    * shuffles (degree agg, wedge self-join, closing join), wedge volume
    * bounded by arboricity, never by the hottest key.
    *
    * Input must be a canonical undirected edge set (src < dst, distinct);
    * returns one row (a, b, c) per triangle, each counted exactly once. */
  def triangleList(canon: DataFrame): DataFrame = {
    val deg = canon.select(col("src").as("id"))
      .unionByName(canon.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val withDeg = canon
      .join(deg.select(col("id").as("src"), col("d").as("sd")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dd")), "dst")
    // canon has src < dst, so equal degrees keep the src→dst direction
    val srcLower = col("sd") < col("dd") ||
      (col("sd") === col("dd") && col("src") < col("dst"))
    val oriented = withDeg.select(
      when(srcLower, col("src")).otherwise(col("dst")).as("a"),
      when(srcLower, col("dst")).otherwise(col("src")).as("b"),
      when(srcLower, col("dd")).otherwise(col("sd")).as("bd"))
    val e1 = oriented.select(col("a"), col("b").as("v"), col("bd").as("vd"))
    val e2 = oriented.select(col("a"), col("b").as("w"), col("bd").as("wd"))
    // each unordered out-pair once: (v, w) ordered by the same (deg, id) key
    val wedges = e1.join(e2, "a").filter(
      col("vd") < col("wd") || (col("vd") === col("wd") && col("v") < col("w")))
    // the closing edge v—w, if present, is oriented v→w because k(v) < k(w)
    wedges.join(oriented.select(col("a").as("v"), col("b").as("w")),
        Seq("v", "w"), "left_semi")
      .select(col("a"), col("v").as("b"), col("w").as("c"))
  }

  /** G13: k-truss — the maximal subgraph where every edge closes at least
    * k−2 triangles (Cohen '08), the standard cohesive-community refinement
    * of the k-core: iterative edge peeling with triangle support recomputed
    * each round until fixpoint ([[Traversals.peelToFixpoint]]). Each
    * round is one [[triangleList]] (wedge generation bounded by oriented
    * out-degree — the hub contributes nothing) + one partial-combining
    * support count + one edge semi-join;
    * the truss is unique, so the fixed-point edge set is engine-exact.
    * Throws if `maxIter` rounds don't converge (the oracle unrolls the
    * same bound and errors loudly, the g3/g4 discipline). */
  def kTruss(canon: DataFrame, k: Int, maxIter: Int = 8): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    Traversals.peelToFixpoint(canon.select("src", "dst"), maxIter,
        s"kTruss(k=$k) did not reach a fixpoint within maxIter=$maxIter peel rounds") { e =>
      val tri = triangleList(e)
      val sup = tri.select(least(col("a"), col("b")).as("src"),
          greatest(col("a"), col("b")).as("dst"))
        .unionByName(tri.select(least(col("a"), col("c")).as("src"),
          greatest(col("a"), col("c")).as("dst")))
        .unionByName(tri.select(least(col("b"), col("c")).as("src"),
          greatest(col("b"), col("c")).as("dst")))
        .groupBy("src", "dst").agg(count(lit(1)).as("sup"))
      e.join(sup, Seq("src", "dst"), "left")
        .filter(coalesce(col("sup"), lit(0L)) >= k - 2)
        .select("src", "dst")
    }
  }

  /** Per-vertex triangle participation + local clustering coefficient over
    * a canonical undirected edge set, top-k by coefficient. The coefficient
    * is emitted in exact parts-per-million integer arithmetic
    * (2·tri·10^6 div d(d−1)) so the oracle hash cannot drift on float
    * rounding; ties break by (triangles desc, id). */
  def clusteringTopK(canon: DataFrame, k: Int): DataFrame = {
    val tri = triangleList(canon)
    val perV = tri.select(col("a").as("id"))
      .unionByName(tri.select(col("b").as("id")))
      .unionByName(tri.select(col("c").as("id")))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    val deg = canon.select(col("src").as("id"))
      .unionByName(canon.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    deg.filter(col("d") >= 2)
      .join(perV, Seq("id"), "left").na.fill(0L, Seq("tri"))
      .select(col("id"), col("d"), col("tri"),
        expr("(2 * tri * 1000000) div (d * (d - 1))").as("lcc_ppm"))
      .orderBy(col("lcc_ppm").desc, col("tri").desc, col("id")).limit(k)
  }

  /** G6: link prediction by the resource-allocation index (Zhou, Lü,
    * Zhang 2009 — Adamic-Adar's 1/log(deg) weight replaced by 1/deg, which
    * keeps the score exact integer ppm so summation order cannot wobble
    * the oracle hash): for every non-adjacent pair (a, b) sharing at
    * least one common neighbor z with deg(z) ≤ `maxDeg`, score
    * Σ_z (10^6 div deg(z)); top-`k` by (score, common-neighbor count,
    * pair). This is the recommend-missing-links workload the reference's
    * FoF query (Queries.scala:49-54) approximates with raw path counts —
    * the RA weight additionally discounts promiscuous intermediates.
    *
    * The `maxDeg` cut on the INTERMEDIATE vertex is the scale contract:
    * pair generation through z costs C(deg z, 2), so dropping hubs bounds
    * the wedge self-join at maxDeg²/2 rows per vertex — the same
    * quadratic-only-inside-a-bounded-bucket guarantee as the LSH band
    * join and the winnowing df cut. The cut is also semantically
    * standard: a hub adjacent to everyone contributes ~0 evidence anyway
    * (weight 1/deg → 0), so truncation removes the most work for the
    * least score.
    *
    * Input: canonical undirected edge set (src < dst, distinct). */
  def linkPredictRA(canon: DataFrame, k: Int = 20, maxDeg: Int = 64): DataFrame = {
    // one-pass symmetrization (r14 — Tables.symmetrize rationale)
    val sym = Tables.symmetrize(canon.select("src", "dst"), Seq("src", "dst"))
    val deg = sym.groupBy(col("src").as("z")).agg(count(lit(1)).as("d"))
    // adjacency annotated with the center's degree, hubs cut
    val zd = sym.select(col("src").as("z"), col("dst").as("n"))
      .join(deg.filter(col("d") <= maxDeg), "z")
    val pairs = zd.select(col("z"), col("n").as("a"), col("d"))
      .join(zd.select(col("z"), col("n").as("b")), "z")
      .filter(col("a") < col("b"))
    val scored = pairs.groupBy("a", "b").agg(
      count(lit(1)).as("n_common"),
      sum(expr("1000000 div d")).cast("long").as("ra_ppm"))
    // keep only pairs that are NOT already edges (canon is a<b canonical)
    scored.join(canon.select(col("src").as("a"), col("dst").as("b")),
        Seq("a", "b"), "left_anti")
      .orderBy(col("ra_ppm").desc, col("n_common").desc, col("a"), col("b"))
      .limit(k)
  }

  /** [[randomWalks]]/[[skipGramPairs]] defaults, NAMED so the g7/g8
    * DuckDB oracles (registry GraphQueries.WALKS) are built from the same
    * constants as the Scala defaults — changing a default here re-derives
    * the oracle SQL instead of silently desynchronizing it (ADVICE r6). */
  val WalkNStarts = 10
  val WalkWalksPerStart = 2
  val WalkSteps = 4
  val WalkSalt = "rw"

  /** Largest walk frontier inlined as an IN literal; above this the step
    * restriction reverts to a broadcast semi-join (no driver collect). */
  val FrontierInlineLimit = 1000

  /** G7: deterministic random walks — the DeepWalk/node2vec corpus
    * generation step (walk sequences become training sentences for graph
    * embeddings). Every "random" choice is an md5 draw keyed by
    * (walk_id, step), so walks are reproducible, engine-exact, and
    * rerun/repartition-stable — the same no-RNG discipline as the
    * samplers ([[graft.TextOps.stratifiedSample]]). Starts are the
    * `nStarts` vertices with the smallest md5(salt0‖id); each spawns
    * `walksPerStart` walks of `steps` hops; step i moves to the
    * (h mod deg)-th out-neighbor in dst order.
    *
    * Scale shape: the distinct adjacency is materialized ONCE (one
    * dedup shuffle — the only edge-sized work in the plan); each step
    * then filters the cached frame with an IN predicate over the
    * COLLECTED frontier (≤ nStarts·walksPerStart ≈ 20 values) and ranks
    * only frontier-degree rows in the per-src window. The two designs
    * this replaces both paid per step: the r7 ranked-E-row index put a
    * full window sort over E up front (grew 6.6× on 10× data), and the
    * r8 broadcast semi-join re-derived the edge table — a fact⋈fact
    * join for the order graph — on every step. Over a src-sorted edge
    * STORE the same IN predicate pushes into parquet footer stats and
    * each step is a point lookup with no materialization at all.
    * Ranks are partition-local per src, so restricting to whole sources
    * leaves them exactly as a full-adjacency ranking would (the oracle
    * ranks the full adjacency and agrees).
    * Output: (walk_id, v, step) rows, steps 0..`steps`. */
  def randomWalks(edges: DataFrame, nStarts: Int = WalkNStarts,
                  walksPerStart: Int = WalkWalksPerStart,
                  steps: Int = WalkSteps, salt: String = WalkSalt): DataFrame = {
    val adjAll = edges.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    val bySrc = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val starts = adjAll.select(col("src").as("v")).distinct()
      .orderBy(md5(concat(lit(s"${salt}0|"), col("v").cast("string"))), col("v"))
      .limit(nStarts)
    // lazy: each step's frontier COLLECT is the action that materializes
    // the previous step's checkpoint — one driver action per step, not
    // two (r14; the Traversals checkpointCount discipline)
    val w0 = starts.select(col("v"),
        explode(sequence(lit(0), lit(walksPerStart - 1))).as("k"))
      .select(concat(col("v").cast("string"), lit("_"), col("k").cast("string"))
        .as("walk_id"), col("v"), lit(0).as("step"))
      .localCheckpoint(false)
    var cur = w0
    val acc = scala.collection.mutable.ArrayBuffer[DataFrame](w0)
    var s = 1
    var live = true
    while (s <= steps && live) {
      // the frontier is ≤ nStarts·walksPerStart VALUES (≤20 at the
      // defaults) — collect it off the checkpointed frame into an IN
      // filter over the materialized adjacency (an InSet probe per cached
      // row; over a src-sorted store the same predicate becomes parquet
      // footer pruning). The collect is GUARDED: callers passing big
      // nStarts/walksPerStart fall back to the broadcast semi-join, so
      // the driver never inlines an unbounded literal set.
      val fvals = cur.select(col("v")).distinct()
        .limit(FrontierInlineLimit + 1).collect().map(_.get(0)).toSeq
      if (fvals.isEmpty) live = false // all walks hit sinks: later steps are empty
      else {
        val restricted =
          if (fvals.size <= FrontierInlineLimit)
            adjAll.filter(col("src").isInCollection(fvals))
          else
            adjAll.join(broadcast(cur.select(col("v").as("fv")).distinct()),
              adjAll("src") === col("fv"), "left_semi")
        val rk = restricted
          .select(col("src"), col("dst"),
            row_number().over(bySrc.orderBy("dst")).as("rk"),
            count(lit(1)).over(bySrc).as("deg"))
        val h = expr(
          s"CAST(conv(substring(md5(concat('$salt|', walk_id, '|$s')), 1, 15), 16, 10) AS BIGINT)")
        // lazy checkpoint per step: lineage still truncates at plan level
        // (step s never re-plans prior steps' scans) and the NEXT step's
        // frontier collect is the one action that materializes it
        cur = cur.join(rk, cur("v") === rk("src"))
          .filter(col("rk") === h % col("deg") + 1)
          .select(col("walk_id"), col("dst").as("v"), lit(s).as("step"))
          .localCheckpoint(false)
        acc += cur
        s += 1
      }
    }
    acc.reduce(_ unionByName _)
  }

  /** G8: skip-gram (center, context) training pairs from [[randomWalks]] —
    * the step that turns walk sequences into word2vec-style training rows
    * (DeepWalk trains skip-gram over a ±window slice of each walk). Output
    * is (center, context, n_pairs) — the aggregated co-occurrence counts a
    * trainer consumes.
    *
    * Scale shape: the walk set is bounded by nStarts·walksPerStart·steps
    * (frontier-sized, NOT graph-sized), so the within-walk self-join
    * broadcasts and the pair count partial-combines; the only graph-sized
    * work is the adjacency ranking inside [[randomWalks]], built once. */
  def skipGramPairs(edges: DataFrame, window: Int = 2,
                    nStarts: Int = WalkNStarts,
                    walksPerStart: Int = WalkWalksPerStart,
                    steps: Int = WalkSteps, salt: String = WalkSalt): DataFrame = {
    val w = randomWalks(edges, nStarts, walksPerStart, steps, salt)
    val a = w.select(col("walk_id"), col("v").as("center"), col("step").as("sa"))
    val b = w.select(col("walk_id").as("wb"), col("v").as("context"),
      col("step").as("sb"))
    a.join(b, col("walk_id") === col("wb") && col("sa") =!= col("sb") &&
        abs(col("sa") - col("sb")) <= window)
      .groupBy("center", "context").agg(count(lit(1)).as("n_pairs"))
  }

  /** Q12 name index (reference WikipediaGraph.scala:134-157,
    * StringToIdMap.java): the string→id index is a pushed-down predicate
    * on the vertex table — Parquet dictionary + min/max pruning replace the
    * binary-searched sorted array. */
  def lookupByName(vertices: DataFrame, namePred: Column): DataFrame =
    vertices.filter(namePred).select("id", "vtype", "name")
}
