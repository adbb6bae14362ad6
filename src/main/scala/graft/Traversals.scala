package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.graftdev.PinState
import org.apache.spark.graphx.Graph
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Iterative frontier traversals (SURVEY.md §2.5 Q5/Q6, §2.7 C4/C5): a
  * driver-side superstep loop where each step is one distributed
  * join+aggregate — the Spark shape of the reference's Ligra-style
  * traverseOut/traverseOutUntil (FrontierQueries.scala:82-244) and of
  * GraphChi's selective-scheduling iteration (GraphChiDatabase.scala:
  * 2124-2255). `localCheckpoint` truncates lineage per superstep, playing
  * the role of the reference's materialized per-iteration vertex state. */
object Traversals {

  /** Superstep job fusion (r14, guide §1.2/§5): materialize `ds` as a
    * LAZY local checkpoint and count its rows in one fused action. The
    * returned Dataset's plan is already the truncated LogicalRDD
    * (lineage stays O(1) across supersteps as with the eager form); the
    * internal-row count both stores the checkpoint blocks and returns
    * the cardinality a loop's convergence test needs — one action where
    * an eager checkpoint plus a count took two (under AQE each
    * intermediate shuffle stage is still its own job, ADVICE r14 #2). */
  private[graft] def checkpointCount[T](ds: Dataset[T]): (Dataset[T], Long) = {
    val c = ds.localCheckpoint(false)
    (c, c.queryExecution.toRdd.count())
  }

  /** Bound for lazy-union accumulator plans (VERDICT r14 wrong #2):
    * visited/forest/matched sets accumulate as lazy unions of per-round
    * checkpointed parts — each part a flat LogicalRDD, so per-round
    * ANALYSIS cost grows linearly with rounds, O(depth²) total planning
    * on a deep-diameter sweep. Every [[AccumFoldEvery]] rounds the union
    * folds back into ONE lazy checkpoint, bounding every superstep plan
    * at ≤ K+1 parts while keeping the one-action-per-superstep
    * discipline: the folded frame materializes inside the NEXT round's
    * fused action (or the caller's first action), never as a job of its
    * own. The copy cost is one accumulator pass per K rounds — O(V/K)
    * amortized per round. */
  private[graft] val AccumFoldEvery = 8
  private[graft] def foldAccum(df: DataFrame, round: Int): DataFrame =
    if (round > 0 && round % AccumFoldEvery == 0) df.localCheckpoint(false)
    else df

  /** [[Pins.resident]]'s gate in file bytes: 16 GiB. */
  private[graft] val EdgeResidencyMaxBytes = 16L << 30

  /** What one [[pinned]] scope holds, each released when it ends: the
    * frames an algorithm persists, its resident edges, GraphX's caches. */
  private[graft] final class Pins private[Traversals] () {
    private val frames = scala.collection.mutable.ArrayBuffer.empty[(DataFrame, AnyRef)]
    private val rdds = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]

    /** `df`, persisted: unlike a checkpoint's LogicalRDD it keeps its
      * hash partitioning (PlanShapeSpec), so a frame joined on its key
      * every superstep is pinned here. */
    def apply(df: DataFrame): DataFrame = { frames += df.persist() -> PinState.cacheOf(df); df }

    /** `df` pinned and counted; `prev`, if pinned here, is released once
      * `df` is built from it: [[sccLabels]]' survivors hold one round's
      * copy, `ALSSweep`'s rating source goes once its last side is built. */
    def roll(df: DataFrame, prev: DataFrame): (DataFrame, Long) = {
      val n = apply(df).count()
      frames.find(_._1 eq prev).foreach { p => frames -= p; prev.unpersist() }
      (df, n)
    }

    /** Edge-projection residency with the out-of-core honesty gate
      * (VERDICT r14 wrong #3): at or below `gate` file bytes the
      * projection localCheckpoints once, so per-round plans stop
      * re-scanning its derivation. Past it a resident copy is the
      * footprint the streamed CC path ([[connectedComponentsScan]])
      * avoids, and a local checkpoint is not fault-tolerant, so the PLAIN
      * projection is returned and every round re-scans storage. Only
      * file-source leaves (DSv1 relations, DSv2 file scans) weigh. */
    def resident(proj: DataFrame, gate: Long = EdgeResidencyMaxBytes): DataFrame = {
      val fileBytes = proj.queryExecution.optimizedPlan.collectLeaves().collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation.sizeInBytes
        case org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation(
            _, f: org.apache.spark.sql.execution.datasources.v2.FileScan, _, _, _) =>
          f.fileIndex.sizeInBytes
      }.map(BigInt(_)).sum
      if (fileBytes <= gate) {
        val c = proj.localCheckpoint(true)
        rdds ++= c.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }
        c
      } else {
        System.err.println(s"[graft.Traversals] edge projection scans $fileBytes " +
          s"file bytes > residency gate $gate (Traversals.EdgeResidencyMaxBytes) — " +
          "streaming the projection per superstep, no resident copy")
        proj
      }
    }

    /** `f(g)` with `g` cached. Every RDD persisted while `g` is built or
      * `f` runs is pinned too: GraphX caches a new graph's edges, each
      * superstep's vertex RDD, and Pregel leaves its last graph cached. */
    def graph[V, E, B](g: => Graph[V, E])(f: Graph[V, E] => B): B = {
      val sc = SparkContext.getOrCreate()
      val before = sc.getPersistentRDDs.keySet
      try f(g.cache())
      finally rdds ++= sc.getPersistentRDDs.collect { case (id, r) if !before(id) => r }
    }

    /** Whether computing `ds` would read a pin: its plan scans a pinned
      * frame, or an RDD it scans has one in its lineage short of an RDD
      * that is all stored blocks (a round an earlier action computed). */
    private[Traversals] def readBy(ds: Dataset[_]): Boolean = {
      val caches = frames.map(_._2)
      val pinnedIds = (rdds ++ caches.flatMap(PinState.builtRdd)).map(_.id).toSet
      val seen = scala.collection.mutable.Set.empty[Int]
      def reaches(r: RDD[_]): Boolean = pinnedIds(r.id) || (seen.add(r.id) &&
        !(r.getStorageLevel.isValid && PinState.stored(r)) &&
        r.dependencies.exists(d => reaches(d.rdd)))
      ds.queryExecution.withCachedData.exists {
        case l: org.apache.spark.sql.execution.LogicalRDD => reaches(l.rdd)
        case x: org.apache.spark.sql.execution.ExternalRDD[_] => reaches(x.rdd)
        case node => PinState.cacheRead(node).exists(c => caches.exists(_ eq c))
      }
    }

    private[Traversals] def release(): Unit = {
      frames.foreach(_._1.unpersist())
      rdds.foreach(_.unpersist(blocking = false))
    }
  }

  /** The pin scope, the one place a frame is persisted or kept resident
    * (the reference holds nothing across queries, GraphChiDatabase.scala:
    * 2124-2255): `body` pins through [[Pins]]; a Dataset result that
    * still reads a pin is materialized ([[checkpointCount]]), any other
    * result must read none; every pin goes when the scope ends, also on
    * a throw, so a repeat call runs the same jobs as the first. */
  private[graft] def pinned[A](body: Pins => A): A = {
    val pins = new Pins
    try body(pins) match {
      case ds: Dataset[_] if pins.readBy(ds) => checkpointCount(ds)._1.asInstanceOf[A]
      case a => a
    } finally pins.release()
  }

  // ---- superstep loops, one per stopping rule: each owns its rounds'
  // materialization, accumulator, edge residency, round count and bound;
  // a caller passes only its per-round relational step. Six rules: the
  // frontier empties (frontierSweep), no value improves (minRelax), no
  // label moves (minLabelFixpoint), the fixpoint witness holds
  // (peelToFixpoint), nothing remains (greedyRounds), a lookup finds
  // nothing (parentWalk). Fixed-round loops (LPA, HITS, Katz) have no
  // stopping rule to share ----

  /** Frontier sweep ([[bfsDistances]], [[bfsSigma]], [[expandUntil]]):
    * expand `seed` one level per superstep until the new frontier is
    * empty, `maxDepth` levels have run, or `until` holds on a non-empty
    * frontier (`until` is also asked once of the seed).
    * `step(e, frontier, visited, depth)` is the level's new frontier.
    *
    * The edge projection is resident below the gate ([[Pins.resident]]):
    * every level joins it, and an un-checkpointed frame re-analyzes and
    * RE-SCANS the full derivation per superstep — 6 parquet scans a round
    * on the sym graphs (r14; guide §2.4). The seed is checkpointed
    * eagerly; each level is ONE action, the fused materialize+count of
    * its frontier. The visited set accumulates as a LAZY union of the
    * per-level checkpointed frontiers (each part a flat LogicalRDD),
    * scanned by the step's anti-join exactly as a materialized union
    * would be and never re-materialized. */
  private[graft] def frontierSweep(edgeProj: DataFrame, seed: DataFrame, maxDepth: Int,
      until: DataFrame => Boolean = _ => false, gate: Long = EdgeResidencyMaxBytes)(
      step: (DataFrame, DataFrame, DataFrame, Int) => DataFrame): Expansion = pinned { pins =>
    val e = pins.resident(edgeProj, gate)
    var frontier = seed.localCheckpoint(true)
    var visited = frontier
    var fN = -1L // unknown; the first level always runs
    var depth = 0
    var hit = until(frontier)
    while (!hit && depth < maxDepth && fN != 0) {
      depth += 1
      val (next, n) = checkpointCount(step(e, frontier, visited, depth))
      visited = foldAccum(visited.union(next), depth)
      frontier = next
      fN = n
      hit = n > 0 && until(frontier)
    }
    Expansion(frontier, visited, depth, hit)
  }

  /** Min-relaxation ([[weightedSSSP]], [[temporalReachFrom]]): the
    * `(key, value)` table starting at `init` keeps each key's minimum over
    * itself and `offers(delta)`, where `delta` holds the rows that
    * improved last round (the seed rows in round 1). Stops when a round
    * improves nothing or after `rounds` rounds; never throws.
    *
    * Delta-frontier (the SPFA discipline): min is monotone and a key's
    * offers depend only on its own row, so an unchanged row re-offers
    * exactly what was already folded in — expanding improvements alone
    * yields the SAME table every round as full expansion, and an empty
    * improvement set IS the fixpoint (no signature scan needed). Both
    * frames lazy-checkpoint; the delta's fused count materializes the
    * table AND the delta in one action. */
  private def minRelax(init: DataFrame, key: String, value: String, rounds: Int)
                      (offers: DataFrame => DataFrame): DataFrame = {
    var best = init.localCheckpoint(true)
    var delta = best
    var dN = -1L
    var round = 0
    while (round < rounds && dN != 0) {
      round += 1
      val next = best.unionByName(offers(delta))
        .groupBy(key).agg(min(value).as(value)).localCheckpoint(false)
      val (d2, n) = checkpointCount(
        next.join(best.select(col(key).as("_pk"), col(value).as("_pv")),
          next(key) === col("_pk"), "left_outer")
        .filter(col("_pv").isNull || next(value) < col("_pv"))
        .select(next(key), next(value)))
      delta = d2
      dN = n
      best = next
    }
    best
  }

  /** Min-label fixpoint ([[connectedComponents]],
    * [[connectedComponentsScan]], [[sccLabels]]): each label column `c`
    * of `sides` starts at `init`'s value and contracts to the minimum of
    * itself and the `c` labels that side's (src, dst) edge frame carries
    * in from src. Stops when no label moves. Past `maxIter` rounds it
    * throws `failure`, or with none returns the labels as they stand
    * (a bounded CC run is a caller's choice).
    *
    * Every side steps in LOCK-STEP on one label frame, so a round is ONE
    * lazy checkpoint and ONE count whatever the number of sides: SCC's
    * forward and backward propagations take max(diam_f, diam_b) rounds,
    * not their sum, and being independent reach the same fixpoint. Each
    * side joins the labels through `joinSide` (the scan form
    * broadcast-hints the vertex-sized side there) and min-combines per
    * dst; whether a label moved folds into the round's frame as a flag
    * column, so the round's one action counts the flagged rows of its
    * checkpoint instead of joining labels to the next ones.
    *
    * `gcEvery` > 0 nudges collection every that-many rounds: each
    * round's superseded label checkpoint is unreachable but its RDD
    * blocks are freed only by the ContextCleaner after GC, so a long
    * fixpoint over a LARGE label table would otherwise accumulate a
    * vertex-sized block set per round — exactly the residency the
    * out-of-core variant exists to bound. Small label tables pass 0 (a
    * full GC on a big heap costs more than the kilobyte-class
    * generations it would free). */
  private def minLabelFixpoint(init: DataFrame, sides: Seq[(DataFrame, String)], maxIter: Int,
                               failure: Option[String] = None,
                               joinSide: DataFrame => DataFrame = identity,
                               gcEvery: Int = 0): DataFrame = {
    val cols = init.columns.toSeq
    def moved(c: String) = "_m" + c
    var labels = init
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxIter) {
      round += 1
      val cur = labels
      val next = sides.foldLeft(cur) { case (acc, (e, c)) =>
        acc.join(e.join(joinSide(cur.select(col("id").as("src"), col(c))), "src")
          .groupBy(col("dst").as("id")).agg(min(c).as(moved(c))), Seq("id"), "left_outer")
      }.select(cols.map(c =>
          if (sides.exists(_._2 == c)) least(col(c), coalesce(col(moved(c)), col(c))).as(c)
          else col(c)) :+
        sides.map { case (_, c) => coalesce(col(moved(c)) < col(c), lit(false)) }
          .reduce(_ || _).as("_chg"): _*)
        .localCheckpoint(false)
      changed = next.filter(col("_chg")).queryExecution.toRdd.count()
      labels = next.select(cols.map(col): _*)
      if (gcEvery > 0 && round % gcEvery == 0) System.gc()
    }
    if (changed > 0) failure.foreach(f => throw new IllegalStateException(f))
    labels
  }

  /** Peel to fixpoint ([[kCore]], [[Queries.kTruss]], [[ccBigStar]]):
    * apply `peel` to the materialized set until its `witness` stops
    * changing. The default witness is the row count: a peel only removes
    * rows, so an unchanged count is the fixpoint. Each round
    * lazy-checkpoints and its witness is the ONE action that
    * materializes it. Throws `failure` if `maxIter` rounds do not reach
    * the fixpoint. */
  private[graft] def peelToFixpoint(init: DataFrame, maxIter: Int, failure: => String,
                                    witness: DataFrame => Any =
                                      _.queryExecution.toRdd.count())
                                   (peel: DataFrame => DataFrame): DataFrame = {
    def settle(df: DataFrame): (DataFrame, Any) = {
      val c = df.localCheckpoint(false)
      (c, witness(c))
    }
    var (cur, n) = settle(init)
    var converged = false
    var round = 0
    while (!converged && round < maxIter) {
      round += 1
      val (next, m) = settle(peel(cur))
      converged = m == n
      cur = next
      n = m
    }
    if (!converged) throw new IllegalStateException(failure)
    cur
  }

  /** Greedy rounds ([[maximalIndependentSet]], [[maximalMatching]]):
    * each round `pick`s winners from the remaining set, the winners
    * (projected to `winnerCols`) accumulate, and `retire(rest, winners)`
    * is the next remaining set; stops when it is empty. Winners
    * lazy-checkpoint and the accumulator is a lazy union of them, so the
    * remaining set's fused count is the ONE action per round and
    * materializes both. Throws `failure` if `maxIter` rounds leave rows
    * remaining. */
  private def greedyRounds(init: DataFrame, winnerCols: Seq[String], maxIter: Int,
                           failure: => String)
                          (pick: DataFrame => DataFrame,
                           retire: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var (rest, remaining) = checkpointCount(init)
    var won = rest.select(winnerCols.map(col): _*).limit(0).localCheckpoint(true)
    var round = 0
    while (remaining > 0 && round < maxIter) {
      round += 1
      val winners = pick(rest).localCheckpoint(false)
      won = foldAccum(won.unionByName(winners), round)
      val (next, n) = checkpointCount(retire(rest, winners))
      rest = next
      remaining = n
    }
    if (remaining > 0) throw new IllegalStateException(failure)
    won
  }

  /** Parent walk ([[shortestPathNodes]], [[pathTo]]): look the one-column
    * `ids` up in a min-parent `tree` (id, dist, parent), then the found
    * rows' parents, and so on, one tiny fused semi-join+count per lookup,
    * until a lookup finds nothing (the root is its own parent) or
    * `maxLookups` lookups have run. Returns the found (id, dist) rows. */
  private def parentWalk(tree: DataFrame, ids: DataFrame, maxLookups: Long): DataFrame = {
    def lookup(keys: DataFrame) =
      checkpointCount(tree.join(keys.toDF("pid"), col("id") === col("pid"), "left_semi"))
    var (cur, n) = lookup(ids)
    var path = cur.select("id", "dist")
    var lookups = 1L
    while (n > 0 && lookups < maxLookups) {
      lookups += 1
      val (next, m) = lookup(cur.filter(col("parent") =!= col("id")).select("parent"))
      n = m
      if (n > 0) { path = path.union(next.select("id", "dist")); cur = next }
    }
    path
  }

  /** BFS distances from every seed in `sources(source, id)` — the MultiBFS
    * pattern (reference MultiBFS.scala:100-157) with the per-vertex counter
    * vector replaced by (source, vertex) rows; single-source BFS (Q6,
    * reference Queries.scala:198-243) is the one-seed case. One
    * [[frontierSweep]] level per superstep. */
  def bfsDistances(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame =
    frontierSweep(edges.select(col("src"), col("dst")),
        sources.select(col("source"), col("id"), lit(0L).as("dist")), maxDepth)(bfsStep).visited

  /** [[bfsDistances]]' level: the frontier's unvisited out-neighbors. */
  private[graft] def bfsStep(e: DataFrame, frontier: DataFrame, visited: DataFrame,
                             depth: Int): DataFrame =
    frontier.join(e, frontier("id") === e("src"))
      .select(col("source"), col("dst").as("id"), lit(depth.toLong).as("dist"))
      .distinct()
      .join(visited.select(col("source").as("vsource"), col("id").as("vid")),
        col("id") === col("vid") && col("source") === col("vsource"), "left_anti")

  /** [[bfsDistances]] extended with shortest-path COUNTING (the forward
    * half of Brandes' betweenness algorithm): σ(s,v) at depth d is the sum
    * of σ over depth-(d−1) predecessors with an edge into v — one
    * partial-combining groupBy per superstep on top of the same
    * frontier⋈edges join. Counts are exact on the simple graph (the edge
    * set is de-duplicated first; path multiplicity through parallel edges
    * is not meaningful). Returns (source, id, dist, sigma). */
  def bfsSigma(edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame =
    // the distinct still materializes resident below the gate — the
    // dedup is itself a full exchange worth paying once
    frontierSweep(edges.select(col("src"), col("dst")).distinct(),
        sources.select(col("source"), col("id"), lit(0L).as("dist"), lit(1L).as("sigma")),
        maxDepth) { (e, frontier, visited, depth) =>
      frontier.join(e, frontier("id") === e("src"))
        .groupBy(frontier("source"), e("dst").as("id"))
        .agg(sum("sigma").as("sigma"))
        .join(visited.select(col("source").as("vsource"), col("id").as("vid")),
          col("id") === col("vid") && col("source") === col("vsource"), "left_anti")
        .select(col("source"), col("id"), lit(depth.toLong).as("dist"), col("sigma"))
    }.visited

  /** G12: pivot-sampled stress centrality — Shimbel's integer cousin of
    * betweenness: stress(v) = Σ over pivot pairs (s, t) of the number of
    * s–t shortest paths passing through v, which is σ(s,v)·σ(t,v)
    * whenever d(s,v) + d(t,v) = d(s,t) (and v ∉ {s,t}). All-integer — no
    * σ(s,v)/σ(s,t) fractions like true betweenness — so the sampled
    * estimate is engine-exact for a fixed pivot set. Pivots are the
    * `nPivots` smallest-md5 vertices (the repo's no-RNG seeding); the
    * pivot-pair restriction is the 100× path: exact stress is all-pairs
    * BFS, this is `nPivots` sigma-BFS sweeps + a (pivot-pair × vertex)
    * join bounded by nPivots²·|V|. Returns top-`k` by (n_paths desc, id)
    * with the contributing-pair count as a second witness. */
  def stressCentrality(edges: DataFrame, nPivots: Int = 5, maxDepth: Int = 4,
                       salt: String = "sc", k: Int = 20): DataFrame = {
    val simple = edges.select("src", "dst").distinct()
    val pivots = simple.select(col("src").as("id")).distinct()
      .orderBy(md5(concat(lit(salt + "0|"), col("id").cast("string"))), col("id"))
      .limit(nPivots)
      .select(col("id").as("source"), col("id"))
    val bs = bfsSigma(simple, pivots, maxDepth).localCheckpoint(true)
    val pd = bs.join(pivots.select(col("source").as("t")), bs("id") === col("t"))
      .select(bs("source").as("ps"), col("t").as("pt"), bs("dist").as("pdist"))
    val a = bs.select(col("source").as("sa"), col("id"),
      col("dist").as("da"), col("sigma").as("ga"))
    val b = bs.select(col("source").as("sb"), col("id").as("idb"),
      col("dist").as("db"), col("sigma").as("gb"))
    a.join(b, col("id") === col("idb") && col("sa") < col("sb"))
      .join(pd, col("sa") === col("ps") && col("sb") === col("pt"))
      .filter(col("da") + col("db") === col("pdist") &&
        col("id") =!= col("sa") && col("id") =!= col("sb"))
      .groupBy("id")
      .agg(sum(col("ga") * col("gb")).cast("long").as("n_paths"),
        count(lit(1)).cast("long").as("n_pairs"))
      .orderBy(col("n_paths").desc, col("id"))
      .limit(k)
  }

  /** Result of a generic until-expansion: the frontier at exit, everything
    * reached, the depth walked, and whether the predicate fired. */
  case class Expansion(frontier: DataFrame, visited: DataFrame, depth: Int, hit: Boolean)

  /** F4: the generic early-termination combinator (reference
    * traverseOutUntil, FrontierQueries.scala:191-244): expand the frontier
    * one out-hop per superstep until `until(frontier)` holds, the frontier
    * empties, or maxDepth is reached. Each superstep is one semi-join +
    * anti-join; `until` typically costs one extra small action per step
    * (the reference's FinishQueryException early exit, as a driver-loop
    * condition). One [[frontierSweep]] level per superstep.
    *
    * CONTRACT (r14, ADVICE r14 #1): after the seed check, `until` is
    * only consulted on NON-EMPTY frontiers — a predicate that holds
    * vacuously on an empty frontier (e.g. "frontier disjoint from X")
    * yields `hit = false` once the expansion exhausts. Every in-repo
    * caller's predicate is existential (vacuously false on empty), so
    * this is the useful contract; [[Frontier.traverseOutUntil]] inherits
    * it. */
  def expandUntil(edges: DataFrame, seeds: DataFrame, maxDepth: Int)
                 (until: DataFrame => Boolean): Expansion =
    frontierSweep(edges.select("src", "dst"), seeds.select("id").distinct(),
        maxDepth, until) { (e, frontier, visited, _) =>
      e.join(frontier.withColumnRenamed("id", "src"), "src", "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(visited, Seq("id"), "left_anti")
    }

  /** Q5 shortestPath(a,b) distance, rebuilt on [[expandUntil]]: forward BFS
    * that stops the superstep loop as soon as any target enters the
    * frontier. Returns one row — the distance, or NULL when unreachable
    * within maxDepth (matching the oracle's min-over-empty). */
  def shortestPathDist(edges: DataFrame, from: DataFrame, to: DataFrame, maxDepth: Int): DataFrame = {
    val tid = to.toDF("tid").localCheckpoint(true)
    val exp = expandUntil(edges, from.toDF("id"), maxDepth)(
      f => !f.join(tid, col("id") === col("tid"), "left_semi").isEmpty)
    val spark = edges.sparkSession
    if (exp.hit) spark.sql(s"SELECT CAST(${exp.depth} AS BIGINT) AS dist")
    else spark.sql("SELECT CAST(NULL AS BIGINT) AS dist")
  }

  /** Q5, reference-shaped: bidirectional BFS meeting in the middle
    * (reference Queries.scala:117-189) — two frontiers, the smaller side
    * expands each superstep, stop at first intersection. Explores
    * O(b^(d/2)) per side instead of the forward-only O(b^d); with complete
    * level expansions the first meet yields the exact distance. Directed
    * edges: the target side walks in-edges (src/dst swapped). Returns the
    * same single-row distance as [[shortestPathDist]] plus explored-vertex
    * and superstep counts for the work comparison. */
  def bidirectionalDist(edges: DataFrame, from: DataFrame, to: DataFrame,
                        maxDepth: Int): (DataFrame, Long, Int) = {
    val spark = edges.sparkSession
    val fwd = edges.select("src", "dst").localCheckpoint(true)
    val rev = fwd.select(col("dst").as("src"), col("src").as("dst"))
    // ONE action per superstep (VERDICT r3 §wrong-3): the new frontier is
    // left-joined against the OTHER side's visited set, and a single
    // aggregate returns (frontier size, min meet distance) together. The
    // intersection only ever grows by new-frontier vertices (next is
    // anti-joined against its own visited), so checking next ⋈ otherVis
    // per step sees every meet pair exactly when it first exists — the
    // running minimum equals the old full visA ⋈ visB probe.
    def step(vis: DataFrame, fr: DataFrame, other: DataFrame, e: DataFrame,
             d: Long): (DataFrame, DataFrame, Long, Option[Long]) = {
      // ONE action per superstep, for real this time (r14): the lazy
      // checkpoint truncates `next`'s lineage at plan level, the
      // (count, meet) aggregate is the single job that materializes its
      // blocks, and the visited union stays a lazy union of checkpointed
      // frontiers instead of re-materializing per step
      val next = e.join(fr.select(col("id").as("src")), "src", "left_semi")
        .select(col("dst").as("id")).distinct()
        .join(vis, Seq("id"), "left_anti")
        .withColumn("dist", lit(d)).localCheckpoint(false)
      val row = next
        .join(other.select(col("id"), col("dist").as("bdist")), Seq("id"), "left")
        .agg(count(lit(1)).as("n"), min(col("dist") + col("bdist")).as("meet")).first()
      val meet = if (row.isNullAt(1)) None else Some(row.getLong(1))
      (vis.union(next), next, row.getLong(0), meet)
    }
    val (visA0, aSize0) =
      checkpointCount(from.toDF("id").distinct().withColumn("dist", lit(0L)))
    val (visB0, bSize0) =
      checkpointCount(to.toDF("id").distinct().withColumn("dist", lit(0L)))
    var visA = visA0
    var visB = visB0
    var frA = visA
    var frB = visB
    var aSize = aSize0
    var bSize = bSize0
    var dA = 0L
    var dB = 0L
    var steps = 0
    // seed intersection checked once before the loop (source ∈ targets)
    val seedRow = visA.join(visB.select(col("id"), col("dist").as("bdist")), "id")
      .agg(min(col("dist") + col("bdist"))).first()
    var met: Option[Long] = if (seedRow.isNullAt(0)) None else Some(seedRow.getLong(0))
    while (met.isEmpty && dA + dB < maxDepth && (aSize > 0 || bSize > 0)) {
      steps += 1
      // expand the cheaper side (reference picks the smaller frontier)
      if (bSize == 0 || (aSize <= bSize && aSize > 0)) {
        dA += 1
        val (v, f, n, m) = step(visA, frA, visB, fwd, dA)
        visA = v; frA = f; aSize = n; met = m
      } else {
        dB += 1
        val (v, f, n, m) = step(visB, frB, visA, rev, dB)
        visB = v; frB = f; bSize = n; met = m
      }
    }
    val explored = visA.count() + visB.count()
    val result = met match {
      case Some(d) => spark.sql(s"SELECT CAST($d AS BIGINT) AS dist")
      case None    => spark.sql("SELECT CAST(NULL AS BIGINT) AS dist")
    }
    (result, explored, steps)
  }

  /** Q5, full output: the actual shortest path as (pos, id) rows, source
    * first (reference Queries.scala:107-194 returns the vertex list). The
    * deterministic min-parent tree of [[ssspTree]] makes the path unique,
    * so the oracle reconstructs the identical walk with a recursive query.
    * The walk itself is the target's lookup plus ≤ maxDepth parent
    * lookups ([[parentWalk]]) — no driver-side state beyond the loop
    * counter. Empty result when unreachable. */
  def shortestPathNodes(edges: DataFrame, from: DataFrame, to: DataFrame,
                        maxDepth: Int): DataFrame = {
    val tree = ssspTree(edges, from, maxDepth).localCheckpoint(true)
    parentWalk(tree, to, maxDepth + 1).select(col("dist").as("pos"), col("id"))
  }

  /** Q6: single-source shortest-path tree (reference Queries.scala:198-243
    * writes a parent pointer per reached vertex): BFS distances + parent =
    * MIN predecessor id at dist-1 (the reference's parent is
    * arrival-order-dependent; min makes the tree deterministic, SURVEY
    * §7.3). The source is its own parent. */
  def ssspTree(edges: DataFrame, source: DataFrame, maxDepth: Int): DataFrame = {
    val dists = bfsDistances(edges, source.toDF("id").withColumn("source", col("id")),
      maxDepth).select("id", "dist").localCheckpoint(true)
    val e = edges.select("src", "dst")
    val par = e
      .join(dists.select(col("id").as("src"), col("dist").as("pdist")), "src")
      .join(dists.select(col("id").as("dst"), col("dist").as("cdist")), "dst")
      .filter(col("cdist") === col("pdist") + 1)
      .groupBy(col("dst").as("id")).agg(min("src").as("parent"))
    dists.join(par, Seq("id"), "left_outer")
      .select(col("id"), col("dist"), coalesce(col("parent"), col("id")).as("parent"))
  }

  /** Q5/Q6 path reconstruction (reference ShortestPathTree.pathTo,
    * Queries.scala:198-243 walks parent pointers): walk target → source
    * with one tiny semi-join per hop — the [[parentWalk]] loop
    * (VERDICT r2 §wrong-2: the r1 form collected the WHOLE parent tree to
    * the driver, a V-sized collect; here only the ≤dist(target)+1 path
    * rows ever reach the driver, which is the returned value itself).
    * Returns the path source-first, or empty if unreachable. */
  def pathTo(tree: DataFrame, source: Long, target: Long): Seq[Long] = {
    val t = tree.filter(col("id") === target).localCheckpoint(true)
    val tDist = t.select("dist").head(1)
    if (tDist.isEmpty) return Seq.empty
    // dist strictly decreases along min-parent pointers: exactly
    // dist(target) parent lookups reach the source (parent == id), and a
    // target at dist 0 is a root that needs none
    val hops = tDist.head.getLong(0)
    val path = if (hops == 0) t.select("id", "dist")
      else t.select("id", "dist").union(parentWalk(tree,
        t.filter(col("parent") =!= col("id")).select(col("parent")), hops))
    val walk = path.orderBy("dist").collect().map(_.getLong(0)).toSeq
    if (walk.headOption.contains(source)) walk else Seq.empty
  }

  /** Size-gated CC for STRUCTURALLY-SMALL graphs (near-dup pair graphs,
    * contracted component graphs): at or below `localGate` edge rows one
    * driver pass labels the components ([[localSccLabels]]: on a
    * symmetric list a strongly connected component is exactly a
    * connected component), above it the distributed label propagation
    * runs unchanged. Use where the input is provably bounded by
    * duplicate/cluster structure rather than corpus size —
    * [[connectedComponents]] itself stays the ref-exact distributed
    * contract (c4). Input must be symmetrized, like
    * [[connectedComponents]]. */
  def connectedComponentsAuto(sym: DataFrame,
                              localGate: Long = LocalSolveRows): DataFrame = pinned { pins =>
    val e = pins(sym.select("src", "dst"))
    if (e.count() <= localGate) localSccLabels(e)
    else connectedComponents(e)
  }

  /** C4 connected components by min-label propagation to fixpoint
    * (reference ConnectedComponentsLabelProp.scala:38-85): label(v) starts
    * as v and contracts to min(label) over the neighborhood, one
    * [[minLabelFixpoint]] round per superstep; stops early at the
    * fixpoint and returns the labels as they stand after `maxIter`.
    * PRECONDITION: labels propagate along edge direction only — pass a
    * SYMMETRIZED edge list (e.g. [[Tables.nationEdgesSym]]) for undirected
    * components, same as [[VertexCentric.pregelCC]].
    * Pregel's active-set is replaced by a convergence count per superstep;
    * the fixpoint (not the per-iteration trace) is what parity checks,
    * per SURVEY §7.3.
    *
    * The edge list is joined on src EVERY superstep, so it is pinned
    * hashed on src (a checkpoint under AQE reports UnknownPartitioning)
    * and the |E|-row side never re-exchanges: per superstep only the
    * |V|-row label table shuffles into the join, plus the one min-combine.
    * The initial labels' eager checkpoint builds the frame; it is released
    * before the call returns the last round's materialized labels. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = pinned { pins =>
    val e = pins(edges.select("src", "dst").repartition(col("src")))
    val labels0 = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct().withColumn("label", col("id")).localCheckpoint(true)
    minLabelFixpoint(labels0, Seq(e -> "label"), maxIter)
  }

  /** C4 at OUT-OF-CORE scale: the same [[minLabelFixpoint]] as
    * [[connectedComponents]], with the edge frame STREAMED from its
    * backing storage every superstep instead of persisted resident —
    * the Spark form of the reference's out-of-core PSW sweeps
    * (reference ConnectedComponentsLabelProp.scala:38-85: edges live on
    * disk and stream through each iteration; only vertex state stays
    * in memory). Use when the symmetric edge frame is storage-backed
    * (parquet scans) and cannot stay resident: at the 1B-edge envelope
    * the 2B-row symmetric frame persists to ~60 GB of cache blocks that
    * the box's disk cannot hold alongside the store (VERDICT r10
    * missing #1) — here NOTHING edge-sized is ever persisted, spilled,
    * or shuffled.
    *
    * Cost model vs [[connectedComponents]]: one full columnar edge scan
    * per superstep (2 columns, pruned at the source) in place of cache
    * residency. While the measured vertex count stays under
    * `broadcastLabelsUpTo`, the label side is broadcast-hinted — the
    * per-superstep plan is then scan → broadcast-hash join → partial
    * min-combine → vertex-sized exchange, with NO edge-side shuffle at
    * all; past the gate the hint is dropped and AQE plans the join
    * (one edge-sized exchange per superstep — still spill-friendly,
    * nothing resident). The same honesty gate as every broadcast in
    * this engine: vertex-sized broadcasts are only legal while they
    * fit, and the gate is measured, not assumed. Label tables past 2^22
    * rows get the loop's GC nudge every 5 supersteps. */
  def connectedComponentsScan(sym: DataFrame, maxIter: Int = 50,
                              broadcastLabelsUpTo: Long = 1L << 26): DataFrame = {
    val e = sym.select("src", "dst")
    val labels0 = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .distinct().withColumn("label", col("id")).localCheckpoint(true)
    val nV = labels0.count()
    minLabelFixpoint(labels0, Seq(e -> "label"), maxIter,
      joinSide = l => if (nV <= broadcastLabelsUpTo) broadcast(l) else l,
      gcEvery = if (nV > (1L << 22)) 5 else 0)
  }

  /** C10: connected components by alternating LARGE-STAR / SMALL-STAR
    * (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the skew-robust CC
    * for web-scale graphs. Label propagation ([[connectedComponents]])
    * needs O(diameter) rounds; big-star contracts in O(log n) rounds and,
    * critically for power-law graphs, each round's per-key work is a
    * partial-combining MIN aggregate — a 50%-hub key costs one combiner
    * cell, never a hot reducer.
    *
    *   large-star: every node links its LARGER neighbors to the minimum
    *               of its closed neighborhood;
    *   small-star: every pair is oriented large→small, then every node
    *               links its smaller neighbors (and itself) to that
    *               minimum.
    *
    * The linkage edge set only contracts toward the star fixpoint
    * {(v, componentMin)}, so an unchanged (count, xxhash64-XOR) signature
    * is the fixpoint: the rounds are [[peelToFixpoint]]'s, with that
    * signature as the witness in place of the row count (XOR, not sum:
    * order-independent like sum but cannot overflow under ANSI
    * arithmetic). Emits (id, label=component minimum), identical to
    * [[connectedComponents]]'s fixpoint (spec-pinned). Throws past
    * `maxIter` rounds.
    *
    * PRECONDITION: undirected input — pass a symmetrized or canonical
    * edge list; linkage is direction-blind (both orientations are folded
    * in round 1). */
  def ccBigStar(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val verts = edges.select(col("src").as("id"))
      .unionByName(edges.select(col("dst").as("id"))).distinct()
      .localCheckpoint(true)
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.select(xxhash64(col("a"), col("b")).as("h"))
        .agg(count(lit(1)), expr("bit_xor(h)")).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val stars = peelToFixpoint(
        edges.select(col("src").as("a"), col("dst").as("b"))
          .filter(col("a") =!= col("b")).distinct(),
        maxIter, s"ccBigStar did not reach the star fixpoint in $maxIter rounds",
        signature) { cur =>
      val bidir = cur.select(col("a").as("u"), col("b").as("v"))
        .unionByName(cur.select(col("b").as("u"), col("a").as("v")))
      val m1 = bidir.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      val large = bidir.join(m1, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(m1.filter(col("m") < col("u"))
          .select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
      val oriented = large.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val m2 = oriented.groupBy("u").agg(min("v").as("m"))
      oriented.join(m2, "u")
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(m2.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b")).distinct()
    }
    verts.join(stars.select(col("a").as("id"), col("b").as("label")), Seq("id"), "left")
      .select(col("id"), coalesce(col("label"), col("id")).as("label"))
  }

  /** Q13 component histogram (reference
    * ConnectedComponentsLabelProp.scala:66-84): top-20 components by size. */
  def componentHistogramTop20(edges: DataFrame): DataFrame =
    connectedComponents(edges)
      .groupBy("label").agg(count(lit(1)).as("csize"))
      .orderBy(col("csize").desc, col("label")).limit(20)

  /** G4: WEIGHTED single-source shortest paths — distributed Bellman-Ford
    * relaxation (the weighted upgrade of [[ssspTree]]'s hop-count BFS):
    * per round, only vertices whose distance IMPROVED last round offer
    * dist(src)+w to their out-neighbors and each vertex keeps its
    * minimum; fixpoint when a round improves nothing. Integer weights
    * keep the fixpoint engine-exact. The rounds are [[minRelax]]'s
    * delta-frontier: the full-expansion form this replaces joined the
    * whole reached set with E every round; late rounds relax a handful of
    * frontier vertices, not the graph.
    *
    * Scale shape: each round = one frontier⋈edges join + one partial-min
    * aggregate (hot dst keys combine map-side) + one vertex-sized
    * improvement join; dist localCheckpoints per round (O(1) lineage);
    * rounds ≤ weighted diameter. */
  def weightedSSSP(edges: DataFrame, weightCol: String = "rating",
                   maxIter: Int = 50): DataFrame = {
    val e = edges.select(col("src"), col("dst"),
      col(weightCol).cast("long").as("w")).localCheckpoint(true)
    minRelax(e.agg(min("src").as("id")).select(col("id"), lit(0L).as("d")),
        "id", "d", maxIter) { delta =>
      delta.join(e, delta("id") === e("src"))
        .select(e("dst").as("id"), (delta("d") + e("w")).as("d"))
    }.select(col("id"), col("d").as("dist"))
  }

  /** G3: k-core — the maximal induced subgraph in which every vertex has
    * degree ≥ k, by iterative peeling: drop vertices whose induced degree
    * falls below k until a fixpoint. The k-core is UNIQUE (peel order
    * cannot change it), so the fixpoint is engine-exact and oracle-able
    * by an unrolled peel. Input must be a canonical undirected simple
    * edge set (src < dst, distinct); returns (id, d) — the surviving
    * vertices with their induced-subgraph degrees.
    *
    * Scale shape: each peel round is two semi-joins (edge restriction)
    * + one partial-combining degree aggregate — the same per-superstep
    * cost as [[connectedComponents]]; rounds = peel depth, typically
    * O(10) on real graphs. Vertex state localCheckpoints per round
    * (O(1) lineage, [[peelToFixpoint]]), and the hub absorbs into a
    * combiner cell. Deep peel chains (a path graph peels one layer per
    * round) can legitimately exceed maxIter and throw. */
  def kCore(canon: DataFrame, k: Int, maxIter: Int = 50): DataFrame = {
    val e = canon.select("src", "dst").localCheckpoint(true)
    peelToFixpoint(
        e.select(col("src").as("id")).union(e.select(col("dst").as("id"))).distinct(),
        maxIter, s"kCore(k=$k) did not reach a fixpoint within maxIter=$maxIter peel rounds") {
      cur =>
        val ie = e
          .join(cur.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(cur.select(col("id").as("dst")), Seq("dst"), "left_semi")
        ie.select(col("src").as("id")).union(ie.select(col("dst").as("id")))
          .groupBy("id").agg(count(lit(1)).as("d"))
          .filter(col("d") >= k)
    }.select("id", "d")
  }

  /** G9: synchronous label-propagation community detection (Raghavan et
    * al. '07), deterministic variant: labels start as own id; each round
    * every vertex adopts the most frequent label among its in-neighbors,
    * ties broken by the SMALLEST label — no RNG, no visit-order
    * dependence, so the fixed-round result is engine-exact and the oracle
    * unrolls the same `rounds`. (The reference's compute engine runs
    * exactly this class of per-vertex vote under runGraphChiComputation;
    * CC label-prop [[connectedComponents]] is the min-combine special
    * case, this is the argmax-combine general one.)
    *
    * Scale shape per round: one edges⋈labels join partitioned on src, one
    * (dst, lbl) count that partial-combines, one per-vertex argmax via a
    * window over the (dst, lbl) counts — all keyed shuffles, no
    * driver-side data. Returns the full (v, lbl) assignment over src ∪ dst.
    *
    * Directed input is handled the standard LPA way: a vertex with no
    * in-neighbors this round KEEPS its current label (vote results are
    * left-joined onto the previous assignment and coalesced), so src-only
    * vertices never drop out of the assignment. On symmetric graphs —
    * where every vertex receives votes every round — this is exactly the
    * previous all-vote behavior. */
  def lpaCommunities(edges: DataFrame, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val adj = edges.select("src", "dst").distinct().localCheckpoint(true)
    var lab = adj.select(col("src").as("v"))
      .unionByName(adj.select(col("dst").as("v"))).distinct()
      .withColumn("lbl", col("v")).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val cnt = adj.join(lab.withColumnRenamed("v", "src"), "src")
        .groupBy(col("dst").as("vv"), col("lbl")).agg(count(lit(1)).as("c"))
      val votes = cnt.withColumn("mx", max("c").over(Window.partitionBy("vv")))
        .filter(col("c") === col("mx"))
        .groupBy(col("vv")).agg(min("lbl").as("vlbl"))
      // lazy: lineage truncates at plan level, the blocks materialize
      // inside the next round's (or the caller's) action — no per-round
      // full-pass count job for a fixed-round loop (r14)
      lab = lab.join(votes, lab("v") === votes("vv"), "left")
        .select(lab("v"), coalesce(col("vlbl"), lab("lbl")).as("lbl"))
        .localCheckpoint(false)
    }
    lab
  }

  /** G11: sampled harmonic centrality — the pivot-sampling estimator for
    * closeness-family centrality (Eppstein–Wang '04 shape): run
    * simultaneous BFS from `nSources` md5-chosen pivots ([[bfsDistances]],
    * the c5 MultiBFS machinery) and score every reached vertex
    * Σ_pivots floor(1e6 / d(pivot, v)) in exact ppm integers — no float,
    * so the estimate is engine-exact for a fixed pivot set. The sampled
    * shape IS the 100× path: exact harmonic centrality is all-pairs BFS,
    * while this costs nSources frontier sweeps regardless of graph size.
    * Returns top-`k` by (h_ppm desc, id). */
  def harmonicCentrality(edges: DataFrame, nSources: Int = 5,
                         maxDepth: Int = 4, salt: String = "hc",
                         k: Int = 20): DataFrame = {
    val sources = edges.select(col("src").as("id")).distinct()
      .orderBy(md5(concat(lit(salt + "0|"), col("id").cast("string"))), col("id"))
      .limit(nSources)
      .select(col("id").as("source"), col("id"))
    bfsDistances(edges.select("src", "dst"), sources, maxDepth)
      .filter(col("dist") > 0)
      .groupBy("id")
      .agg(sum(expr("1000000 div dist")).cast("long").as("h_ppm"),
        count(lit(1)).as("n_sources"))
      .orderBy(col("h_ppm").desc, col("id"))
      .limit(k)
  }

  /** G10: time-respecting reachability (temporal min-arrival BFS): a
    * message leaving a seeded source at time 0 may cross edge (u, v, ets)
    * only if ets ≥ arrival(u); arrival(v) is the earliest such crossing
    * over ≤ `hops`-hop time-respecting paths. The combine is monotone min,
    * so the unrolled oracle and the Spark loop agree exactly — the
    * temporal variant of [[ssspTree]] the reference's timestamped edge
    * log (Q10, `ets` on every edge) makes meaningful.
    *
    * Sources are the `nSources` vertices with the smallest
    * md5(salt‖id) — the same no-RNG seeding discipline as
    * [[graft.Queries.randomWalks]]. Each hop is one frontier⋈edges join
    * (frontier broadcasts while small) + a min-combine groupBy. */
  def temporalReach(edges: DataFrame, nSources: Int = 3, hops: Int = 4,
                    salt: String = "tr0"): DataFrame = {
    val sources = edges.select(col("src").as("v")).distinct()
      .orderBy(md5(concat(lit(salt + "|"), col("v").cast("string"))), col("v"))
      .limit(nSources)
    temporalReachFrom(edges, sources, hops)
  }

  /** [[temporalReach]] from an explicit source set (one `v` column).
    *
    * Delta-frontier: only vertices whose arrival IMPROVED last hop are
    * re-expanded. Correct because the combine is monotone min and a
    * vertex's out-messages depend only on (v, arr(v)): an unchanged
    * vertex re-sends exactly the messages already folded in, and an
    * improved (smaller) arrival only ADMITS more edges (ets ≥ arr), so
    * expanding improvements alone covers every new message — the g14
    * survivor-restriction discipline applied to the temporal BFS. The
    * full-set expansion this replaces joined |reached|×E every hop;
    * here hop h joins only last hop's improvements (frontier-sized,
    * broadcastable), and the loop exits early once a hop improves
    * nothing (all later hops are then provably empty too) — one
    * [[minRelax]] round per hop. */
  def temporalReachFrom(edges: DataFrame, sources: DataFrame,
                        hops: Int): DataFrame = {
    // no distinct: min-combine folds duplicate (src,dst,ets) messages to
    // the same arrival, so deduping the edge frame would pay a full
    // E-sized exchange to save only map-side combine input — checkpoint
    // the projection as-is (materialize once, zero shuffles)
    val e = edges.select("src", "dst", "ets").localCheckpoint(true)
    // messages from the improved frontier only; ONE min-combine shuffle
    // per hop folds them into the running arrivals (partial-combining,
    // so the exchange carries ~V rows, not the raw message volume)
    minRelax(sources.select(col("v")).withColumn("arr", lit(0L)), "v", "arr", hops) {
      delta =>
        delta.join(e, delta("v") === e("src") && e("ets") >= delta("arr"))
          .select(e("dst").as("v"), e("ets").as("arr"))
    }
  }

  /** G5: HITS hubs & authorities (Kleinberg, JACM '99) over a directed
    * edge list — the other classic iterative ranking next to [[PageRank]],
    * and like it SCALED-INTEGER bit-exact: float power iteration is
    * accumulation-order-dependent, so each half-step renormalizes by the
    * round's MAXIMUM via exact integer division instead of an L2 norm:
    *
    *   a_i(v) = Σ_{(u,v)∈E} h_{i-1}(u);   a'_i = (a_i · 1e5) div max a_i
    *   h_i(u) = Σ_{(u,v)∈E} a'_i(v);      h'_i = (h_i · 1e5) div max h_i
    *
    * Scale 1e5 bounds the pre-division accumulator by |E|·1e10 — safe in
    * a BIGINT to ~9×10⁸ edges; beyond that, renormalize every half-step
    * in two stages. Parallel edges count with multiplicity (the fixture
    * is a multigraph, like the reference's edge log). The max() scalars
    * are 1-row broadcasts, NOT driver collects — each superstep is two
    * keyed partial-combining shuffles, the same shape that scales
    * PageRank. Returns top-20 by (authority desc, id).
    */
  def hitsTop20(edges: DataFrame, iters: Int = 3): DataFrame = {
    val Scale = 100000L
    val e = edges.select("src", "dst").localCheckpoint(true)
    val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    var hub = verts.withColumn("h", lit(Scale))
    var auth = verts.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      // ar/hr are each read twice (the max scalar + the rank join):
      // lazy-checkpointing them computes each once per half-step (r14)
      val ar = e.join(hub.select(col("id").as("src"), col("h").as("hs")), "src")
        .groupBy(col("dst").as("id")).agg(sum("hs").as("s"))
        .localCheckpoint(false)
      val amax = ar.agg(max("s").as("m"))
      // greatest(m, 1): on a degenerate edge set (empty after upstream
      // filtering) max(s) is null — ranks must become defined zeros, not
      // silently null (ADVICE r5); greatest skips nulls in Spark
      // lazy checkpoints (r14): a fixed-iteration loop needs lineage
      // truncation, not per-half-step full-pass count jobs
      auth = verts.join(ar, Seq("id"), "left_outer").crossJoin(broadcast(amax))
        .select(col("id"), expr(s"(coalesce(s, 0L) * ${Scale}L) div greatest(m, 1L)").as("a"))
        .localCheckpoint(false)
      val hr = e.join(auth.select(col("id").as("dst"), col("a").as("av")), "dst")
        .groupBy(col("src").as("id")).agg(sum("av").as("s"))
        .localCheckpoint(false)
      val hmax = hr.agg(max("s").as("m"))
      hub = verts.join(hr, Seq("id"), "left_outer").crossJoin(broadcast(hmax))
        .select(col("id"), expr(s"(coalesce(s, 0L) * ${Scale}L) div greatest(m, 1L)").as("h"))
        .localCheckpoint(false)
    }
    auth.join(hub, "id")
      .select(col("id"), col("a").as("auth_scaled"), col("h").as("hub_scaled"))
      .orderBy(col("auth_scaled").desc, col("id")).limit(20)
  }

  /** G17: diameter lower bound by the double-sweep heuristic (Magnien,
    * Latapy, Habib '09 — exact on trees, near-exact on real graphs): BFS
    * from an md5-deterministic pivot, take the farthest reached vertex
    * (max dist, tie min id), BFS again from it; that eccentricity is the
    * bound. Two [[bfsDistances]] sweeps — 2·O(diameter) supersteps total,
    * each one frontier⋈edges join + anti-join — vs. all-pairs BFS for the
    * exact diameter; the estimate covers the pivot's component. Returns
    * one row (pivot_id, far_id, far_dist, diameter_lb). Input: canonical
    * undirected simple edges, symmetrized internally. */
  def doubleSweepDiameter(canon: DataFrame, salt: String = "ds",
                          maxDepth: Int = 6): DataFrame = {
    // one-pass symmetrization (r14 — Tables.symmetrize rationale)
    val sym = Tables.symmetrize(canon.select("src", "dst"), Seq("src", "dst"))
      .localCheckpoint(true)
    val pivot = sym.select(col("src").as("id")).distinct()
      .orderBy(md5(concat(lit(salt + "0|"), col("id").cast("string"))), col("id"))
      .limit(1).select(col("id").as("source"), col("id"))
    val d1 = bfsDistances(sym, pivot, maxDepth)
    val far = d1.orderBy(col("dist").desc, col("id")).limit(1)
      .select(col("source").as("pivot_id"), col("id").as("far_id"),
        col("dist").as("far_dist"))
    val farSrc = far.select(col("far_id").as("source"), col("far_id").as("id"))
    val d2 = bfsDistances(sym, farSrc, maxDepth)
    far.crossJoin(broadcast(d2.agg(max("dist").as("diameter_lb"))))
  }

  /** G16: minimum spanning forest by Borůvka's algorithm (1926) — the
    * parallel-native MST: each round every component selects its minimum
    * outgoing edge, the selected set is acyclic when weights are unique
    * (the largest edge of any would-be cycle cannot be either endpoint
    * component's minimum), and components contract; O(log V) rounds.
    * Weights are made TOTAL-ORDER unique by the composite (w, src, dst),
    * so the MSF is the unique one and the unrolled oracle replays it
    * edge-for-edge.
    *
    * Input: canonical undirected weighted edges (src < dst, distinct,
    * integer `w`). Returns the forest edge set (src, dst, w).
    *
    * Scale shape: per round, the cross-component restriction is two hash
    * joins of the edge list against the label table; the per-component
    * argmin is one partial-combining min of a (w, src, dst) struct — a
    * hub component costs a combiner cell. The round's selected edges are
    * the CONTRACTED component graph; its components come from the driver
    * solver [[localSccLabels]] at or below `localGate` selected edges
    * (symmetrized, so each strongly connected component is a connected
    * one) and from [[ccBigStar]] above it. The edge list is pinned hashed
    * once and is released before returning: the forest reads only the
    * rounds' materialized selections. Fails loudly past `maxRounds`.
    *
    * maxRounds 12 (was 8): components at least halve per round, so 12
    * rounds contract 4096× before the fail-loud throw — lowering the local
    * gate 2^20 → 2^18 (ADVICE r8) widened the window where a slowly-
    * contracting graph needs 1-2 extra DISTRIBUTED rounds to duck under
    * the gate, and the old bound could now throw on inputs it used to
    * hand to the driver solver (r9 review finding). */
  def msfBoruvka(canonWeighted: DataFrame, maxRounds: Int = 12,
                 localGate: Long = LocalSolveRows): DataFrame = pinned { pins =>
    val e = pins(canonWeighted.select("src", "dst", "w").repartition(col("src")))
    e.count()
    var lab = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id"))).distinct()
      .withColumn("label", col("id")).localCheckpoint(true)
    var forest = e.limit(0).localCheckpoint(true)
    var done = false
    var round = 0
    while (!done && round < maxRounds) {
      round += 1
      val cross = e
        .join(lab.select(col("id").as("src"), col("label").as("la")), "src")
        .join(lab.select(col("id").as("dst"), col("label").as("lb")), "dst")
        .filter(col("la") =!= col("lb"))
      // per-component argmin carries (la, lb) through the struct (they
      // sort AFTER dst, so the (w, src, dst) order is untouched) — the
      // selected edges double as the CONTRACTED component graph below
      // fused materialize+count (r14): one action selects the round's
      // edges; the forest accumulates as a lazy union of checkpointed
      // selections (≤ maxRounds parts, linear plan growth)
      val (sel, nSel) = checkpointCount(cross
        .select(explode(array(col("la"), col("lb"))).as("c"),
          struct(col("w"), col("src"), col("dst"), col("la"), col("lb")).as("k"))
        .groupBy("c").agg(min("k").as("k"))
        .select(col("k.src").as("src"), col("k.dst").as("dst"),
          col("k.w").as("w"), col("k.la").as("la"), col("k.lb").as("lb"))
        .distinct())
      if (nSel == 0L) done = true
      else {
        forest = foldAccum(forest.unionByName(sel.select("src", "dst", "w")), round)
        // contract in LABEL space: CC over the selected component graph
        // (components-sized, halving each round — never the whole
        // forest), then compose onto the vertex labels. min-label CC of
        // label-space ids keeps labels = component-min original ids.
        //
        // SIZE-GATED local solve (the AQE re-plan philosophy): the
        // contracted graph is ≤ one edge per component and halves every
        // round, so past the first round(s) it is provably tiny however
        // big the input; below the gate the driver solver replaces the
        // nested ccBigStar fixpoint (each distributed CC round is
        // several shuffle+checkpoint jobs — at bench scale the nested
        // fixpoint WAS g16's cost). Above the gate (early rounds of a
        // 100 TB forest) the distributed path runs unchanged. nSel is
        // already on the driver — the gate costs nothing.
        val pairs = sel.select(col("la").as("src"), col("lb").as("dst"))
        val ccc =
          (if (nSel <= localGate) localSccLabels(Tables.symmetrize(pairs, Seq("src", "dst")))
           else ccBigStar(pairs))
            .select(col("id").as("label"), col("label").as("nl"))
        // lazy: materialized by the next round's selection action (r14)
        lab = lab.join(ccc, Seq("label"), "left")
          .select(col("id"), coalesce(col("nl"), col("label")).as("label"))
          .localCheckpoint(false)
      }
    }
    if (!done) throw new IllegalStateException(
      s"msfBoruvka did not contract to a spanning forest within maxRounds=$maxRounds")
    forest
  }

  /** G15: maximal independent set by Luby's algorithm (Luby '86), made
    * deterministic the suite's usual way: the per-vertex random priority
    * is md5(salt‖id) with a zero-padded id suffix (unique, engine-
    * independent), so every round's winner set — undecided vertices
    * whose priority is strictly smaller than every undecided neighbor's
    * — is engine-exact and the unrolled oracle replays it. Winners join
    * the MIS; winners and their neighbors leave the undecided set;
    * O(log n) rounds w.h.p. Returns the MIS vertex ids.
    *
    * The classic symmetry-breaking primitive behind parallel coloring /
    * scheduling. Input is a canonical undirected simple edge list
    * (src < dst, distinct), symmetrized internally.
    *
    * Scale shape: per round one keyed min-combine over the undecided
    * edge frontier (partial combine — the hub costs a combiner cell)
    * plus two anti-joins, all on the shrinking undecided set
    * ([[greedyRounds]]); the edge list is pinned hashed on src once and
    * is released before returning: the MIS reads only the rounds'
    * materialized winners. Fails loudly past `maxIter`. */
  def maximalIndependentSet(canon: DataFrame, salt: String = "mis",
                            maxIter: Int = 20): DataFrame = pinned { pins =>
    // one-pass symmetrization (r14 — Tables.symmetrize rationale)
    val sym = pins(Tables.symmetrize(canon.select("src", "dst"), Seq("src", "dst"))
      .repartition(col("src")))
    sym.count()
    val prio = concat(md5(concat(lit(salt + "|"), col("id").cast("string"))),
      lpad(col("id").cast("string"), 10, "0"))
    greedyRounds(sym.select(col("src").as("id")).distinct().withColumn("p", prio),
        Seq("id"), maxIter,
        s"maximalIndependentSet did not decide all vertices within maxIter=$maxIter rounds")(
      pick = undecided => {
        // min undecided-neighbor priority per vertex; vertices whose
        // neighbors are all decided get no row and win by default
        val nmin = sym
          .join(undecided.select(col("id").as("src"), col("p").as("sp")), "src")
          .groupBy(col("dst").as("id")).agg(min("sp").as("np"))
        undecided.join(nmin, Seq("id"), "left_outer")
          .filter(col("np").isNull || col("p") < col("np"))
          .select("id")
      },
      retire = (undecided, winners) => {
        val excluded = winners.unionByName(
          sym.join(winners.withColumnRenamed("id", "src"), "src")
            .select(col("dst").as("id"))).distinct()
        undecided.join(excluded, Seq("id"), "left_anti")
      }).select("id")
  }

  /** Edge rows at or below which one driver pass ([[localSccLabels]])
    * labels components instead of a distributed fixpoint: the rest of
    * [[sccLabels]]' refinement, each round's contraction in
    * [[msfBoruvka]], and [[connectedComponentsAuto]]. 2^18 edge rows
    * collect as ~4 MB of longs, but the boxed adjacency/index maps behind
    * them cost ~50-100 B/entry — tens of MB on the driver, safe on any
    * plausible heap (ADVICE r8: the old 2^20 default reached hundreds of
    * MB, not the "~16 MB" it claimed). */
  private[graft] val LocalSolveRows = 1L << 18

  /** The driver component solver: Tarjan over a collected (src, dst)
    * edge list, returning (id, label) with label = min vertex id of the
    * strongly connected component, for every edge endpoint. On a
    * symmetric list each strongly connected component is a connected
    * component, so the CC callers pass symmetrized edges. Iterative
    * (explicit work stack) — a 1M-edge chain must not blow the JVM
    * stack. */
  private def localSccLabels(ec: DataFrame): DataFrame = {
    val sp = ec.sparkSession
    import sp.implicits._
    import scala.collection.mutable
    val adj = mutable.HashMap[Long, mutable.ArrayBuffer[Long]]()
    // tuple-encoded collect: primitive copy out of Tungsten rows instead
    // of one Row object per edge (ADVICE r8)
    ec.select("src", "dst").as[(Long, Long)].collect().foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.ArrayBuffer[Long]()) += b
      adj.getOrElseUpdate(b, mutable.ArrayBuffer[Long]())
    }
    var counter = 0
    val index = mutable.HashMap[Long, Int]()
    val low = mutable.HashMap[Long, Int]()
    val onStack = mutable.HashSet[Long]()
    val stack = mutable.ArrayBuffer[Long]()
    val label = mutable.HashMap[Long, Long]()
    for (root <- adj.keys if !index.contains(root)) {
      val work = mutable.ArrayBuffer[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (u, pi) = work.last
        if (pi == 0) {
          index(u) = counter; low(u) = counter; counter += 1
          stack += u; onStack += u
        }
        val nbrs = adj(u)
        if (pi < nbrs.length) {
          work(work.length - 1) = (u, pi + 1)
          val w = nbrs(pi)
          if (!index.contains(w)) work += ((w, 0))
          else if (onStack(w)) low(u) = math.min(low(u), index(w))
        } else {
          work.remove(work.length - 1)
          if (work.nonEmpty) {
            val p = work.last._1
            low(p) = math.min(low(p), low(u))
          }
          if (low(u) == index(u)) {
            var mn = Long.MaxValue
            val members = mutable.ArrayBuffer[Long]()
            var stop = false
            while (!stop) {
              val w = stack.remove(stack.length - 1); onStack -= w
              members += w; mn = math.min(mn, w)
              if (w == u) stop = true
            }
            members.foreach(m => label(m) = mn)
          }
        }
      }
    }
    label.toSeq.toDF("id", "label")
  }

  /** G14: strongly connected components of a DIRECTED graph by iterative
    * (forward-min, backward-min) class refinement — the Orzan/FW-BW
    * family reshaped for keyed dataflow (no recursion, no pivot BFS
    * per call stack frame):
    *
    *   class₀ = one class for everything; each round computes, WITHIN
    *   each class, F(v) = min vertex reaching v and B(v) = min vertex
    *   reachable from v (two CC-shaped min-label fixpoints over the
    *   intra-class edge sets), then splits classes by the (F, B) pair.
    *
    * Invariants: members of one SCC always share (F, B), so they are
    * never separated; a class whose members all have F = B = m is
    * exactly SCC(m) (m reaches everyone, everyone reaches m); and each
    * round finalizes at least every current class minimum's SCC, so the
    * fixpoint — every vertex with F = B — IS the SCC decomposition,
    * labels = per-SCC minimum vertex id. The result is unique, so the
    * mutual-closure oracle agrees exactly.
    *
    * Scale shape: the self-loop-free edge list is resident below the
    * gate ([[Pins.resident]]). Per outer round, the intra-class edge
    * restriction is two hash joins, pinned hashed on src/dst; both
    * directions then run as the two sides of ONE [[minLabelFixpoint]]
    * (CC's one-combine-per-superstep shape, lock-stepped), which throws
    * past `maxInner`. At or below `localGate` intra-class edge rows the
    * driver solver [[localSccLabels]] finishes every remaining class in
    * one pass — the published hybrid shape for parallel SCC (Hong, Rodia,
    * Olukotun PPoPP'13: trim + FW-BW until the pieces fit, then Tarjan
    * each piece locally); the class restriction guarantees no edge
    * crosses classes. Fails loudly past `maxOuter` (like [[kCore]])
    * rather than returning a non-fixpoint.
    *
    * maxOuter 14 (was 12): the 2^20 → 2^18 local-gate cut (ADVICE r8) can
    * cost 1-2 extra FW-BW refinement rounds before the survivor edges fit
    * the driver Tarjan pass — same widening as msfBoruvka's maxRounds. */
  def sccLabels(edges: DataFrame, maxOuter: Int = 14,
                maxInner: Int = 60,
                localGate: Long = LocalSolveRows): DataFrame = pinned { pins =>
    val e0 = pins.resident(edges.select("src", "dst").filter(col("src") =!= col("dst"))
      .distinct())
    var lab = e0.select(col("src").as("id")).union(e0.select(col("dst").as("id")))
      .distinct().withColumn("cls", lit(0L)).localCheckpoint(true)
    var outer = 0
    var result: DataFrame = null
    // classes only REFINE, so an edge that leaves the intra-class set
    // never re-enters — each round restricts the PREVIOUS round's
    // survivors, not the full edge list. Round 1 pays |E|; the frame
    // then shrinks monotonically (on DAG-ish graphs to near-empty after
    // one refinement), so later rounds are survivor-sized
    var ecur = e0
    while (result == null && outer < maxOuter) {
      outer += 1
      // survivors pinned hashed on src: no edge re-exchange in the fixpoint
      val (ec, nEc) = pins.roll(ecur
        .join(lab.select(col("id").as("src"), col("cls").as("scls")), "src")
        .join(lab.select(col("id").as("dst"), col("cls").as("dcls")), "dst")
        .filter(col("scls") === col("dcls"))
        .select("src", "dst")
        .repartition(col("src")), ecur)
      ecur = ec
      if (nEc <= localGate) {
        // below the gate: no intra-class edge crosses classes, so one
        // local Tarjan over the survivors labels every remaining class;
        // vertices with no surviving intra-class edge are singleton SCCs
        result = lab.select("id").join(localSccLabels(ec), Seq("id"), "left")
          .select(col("id"), coalesce(col("label"), col("id")).as("label"))
      } else {
        // the reversed survivors, pinned hashed on src for this round only
        val refined = pinned { round =>
          val ecR = round(ec.select(col("dst").as("src"), col("src").as("dst"))
            .repartition(col("src")))
          ecR.count()
          minLabelFixpoint(
              lab.withColumn("f", col("id")).withColumn("b", col("id")).localCheckpoint(true),
              Seq(ec -> "f", ecR -> "b"), maxInner,
              Some(s"sccLabels: min-label fixpoint not reached within maxInner=$maxInner"))
            .select("id", "f", "b")
        }
        if (refined.filter(col("f") =!= col("b")).queryExecution.toRdd.count() == 0L)
          result = refined.select(col("id"), col("f").as("label"))
        else
          lab = refined.select(col("id"),
            (col("f") * lit(1000000L) + col("b")).as("cls"))
            .localCheckpoint(false)
      }
    }
    if (result == null) throw new IllegalStateException(
      s"sccLabels did not reach the SCC fixpoint within maxOuter=$maxOuter rounds")
    result
  }

  /** G18: exact neighborhood function — N(h) = #ordered pairs (u, v) with
    * dist(u, v) ≤ h, for h = 0..`maxH` (Palmer et al. KDD'02 "ANF" define
    * the function; this is the exact baseline their sketches estimate).
    * The reference's analytics stack reports reachability growth the same
    * way (SubgraphFrequencies-style whole-graph profiles).
    *
    * Plan: iterate pairs(h) = pairs(h-1) ∪ (pairs(h-1) ⋈ edges), distinct
    * — one keyed shuffle per hop, balls materialized as rows. Ball
    * materialization is quadratic on small-diameter graphs, so `nRoots >
    * 0` restricts the ball roots u to the nRoots md5-least vertices (the
    * q9b/harmonic seeded-sampling discipline — cost nRoots·|ball|,
    * independent of |V|); at 100 TB the all-roots path is
    * [[anfHyperLogLog]] (per-vertex HLL registers, linear rows), graded
    * against this exact form on the sampled roots. */
  def neighborhoodFunction(edges: DataFrame, maxH: Int = 3,
                           nRoots: Int = 0, salt: String = "anf"): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select("src", "dst").distinct()
      .repartition(col("src")).localCheckpoint(true)
    val verts = e.select(col("src").as("u")).union(e.select(col("dst").as("u")))
      .distinct()
    val roots =
      if (nRoots <= 0) verts
      else verts.orderBy(md5(concat(lit(salt + "|"), col("u").cast("string"))), col("u"))
        .limit(nRoots)
    // fused materialize+count per hop (r14): 2 jobs/hop → 1
    val (pairs0, n0) = checkpointCount(roots.select(col("u"), col("u").as("v")))
    var pairs = pairs0
    val counts = scala.collection.mutable.ArrayBuffer[(Int, Long)]((0, n0))
    for (h <- 1 to maxH) {
      val nxt = pairs.join(e, pairs("v") === e("src"))
        .select(pairs("u"), e("dst").as("v"))
      val (p2, n) = checkpointCount(pairs.unionByName(nxt).distinct())
      pairs = p2
      counts += ((h, n))
    }
    counts.toSeq.toDF("h", "n_pairs")
  }

  /** G18b: HyperANF (Boldi, Rosa & Vigna WWW'11) — the 100 TB path for
    * the neighborhood function. EVERY vertex carries ONE HyperLogLog
    * sketch of its ball; a hop is sketch(v) ∪= sketch(n) over in-edges,
    * so state is V·2^lgK bytes and a hop is one shuffle of fixed-width
    * registers — NO pair materialization, unlike [[neighborhoodFunction]].
    * Built on Spark's DataSketches HLL aggregates (`hll_sketch_agg` /
    * `hll_union_agg`), codegen'd and partial-combining.
    *
    * Returns (h, n_pairs, est_ok) graded on the `nRoots` md5-least
    * vertices (the full-graph sketches are computed; only the grade is
    * sampled): n_pairs the exact sampled count (from
    * [[neighborhoodFunction]], which the oracle recomputes) and est_ok
    * whether the summed sketch estimates over the same roots land within
    * `tol` of it — the recall-as-oracle-metric discipline of e4/e5. At
    * the fixture's ball cardinalities the lgK=12 sketch is still in its
    * exact sparse mode, so est_ok is deterministically true. */
  def anfHyperLogLog(edges: DataFrame, maxH: Int = 3, lgK: Int = 12,
                     tol: Double = 0.10, nRoots: Int = 200,
                     salt: String = "anf",
                     exact: Option[DataFrame] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val est = pinned { pins =>
      // ONE exchange keyed on dst up front (the hop join's key), pinned —
      // NOT checkpointed, which would erase the partitioning (PlanShapeSpec
      // pins this; measured in PERF_ARCHIVE.md's round-8 log) and put an
      // E-sized reshuffle back into every hop. distinct() after the repartition plans exchange-free:
      // HashPartitioning(dst) satisfies the dedup's {src,dst} clustering.
      val e = pins(edges.select("src", "dst").repartition(col("dst")).distinct())
      val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
        .distinct()
      val roots = verts
        .orderBy(md5(concat(lit(salt + "|"), col("id").cast("string"))), col("id"))
        .limit(nRoots).localCheckpoint(true)
      var sk = verts.groupBy("id")
        .agg(hll_sketch_agg(col("id"), lit(lgK)).as("sk")).localCheckpoint(false)
      def total(s: DataFrame): Long = {
        val r = s.join(broadcast(roots), "id")
          .agg(sum(hll_sketch_estimate(col("sk")))).head()
        if (r.isNullAt(0)) 0L else r.getLong(0) // empty graph: sum is null
      }
      val est = scala.collection.mutable.ArrayBuffer[(Int, Long)]((0, total(sk)))
      for (h <- 1 to maxH) {
        // ball(v) ∪= ball(out-neighbor): route each dst's sketch to its
        // in-neighbors, then one union-agg per vertex (self rides along)
        val fromNbr = e.join(sk.withColumnRenamed("id", "dst"), "dst")
          .select(col("src").as("id"), col("sk"))
        // lazy: each hop's total() aggregate is the action that
        // materializes the round's sketches (r14 — 2 jobs/hop → 1)
        sk = sk.unionByName(fromNbr).groupBy("id")
          .agg(hll_union_agg(col("sk")).as("sk")).localCheckpoint(false)
        est += ((h, total(sk)))
      }
      est.toSeq
    }
    // the exact sampled counts can be injected (e.g. the registry shares
    // one computation between the g18 and g18b entries) so this
    // function's own cost is the sketch path it exists to measure
    val ex = exact.getOrElse(neighborhoodFunction(edges, maxH, nRoots, salt))
    ex.join(est.toDF("h", "est"), "h")
      .select(col("h"), col("n_pairs"),
        (abs(col("est") - col("n_pairs")) <= col("n_pairs") * tol).as("est_ok"))
  }

  /** G20: Newman modularity of a community assignment, as an EXACT
    * rational — Q = Σ_c (e_c/m − (d_c/2m)²) over the canonical
    * undirected simple graph, returned as (n_comms, m_edges, q_num,
    * q_den) with q_num = Σ_c (4·m·e_c − d_c²) and q_den = 4m², so the
    * cross-engine comparison is integer-exact (no float summation
    * order, no ppm rounding). `labels` is any (v, lbl) assignment —
    * [[lpaCommunities]]' output in the registry entry.
    *
    * Scale shape: one canonicalization shuffle, one degree aggregation,
    * two label joins keyed on the endpoints, then community-keyed
    * partial-combining sums — every stage linear in |E|, no per-pair
    * work beyond the edge list itself. */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val canon = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val m = canon.count()
    val lab = labels.toDF("v", "lbl").localCheckpoint(true)
    val deg = canon.select(col("a").as("id")).union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val dsum = deg.join(lab, deg("id") === lab("v"))
      .groupBy("lbl").agg(sum("deg").as("d_c"))
    val ec = canon
      .join(lab.select(col("v").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("v").as("b"), col("lbl").as("lb")), "b")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    dsum.join(ec, Seq("lbl"), "left_outer")
      .select(col("lbl"), col("d_c"), coalesce(col("e_c"), lit(0L)).as("e_c"))
      .agg(count(lit(1)).as("n_comms"),
        lit(m).as("m_edges"),
        sum(lit(4L) * m * col("e_c") - col("d_c") * col("d_c"))
          .cast("long").as("q_num"),
        lit(4L * m * m).as("q_den"))
  }

  /** G21: degree assortativity (Newman, "Assortative Mixing in
    * Networks", PRL '02) as an EXACT rational — the Pearson correlation
    * of endpoint degrees over the canonical undirected simple edge set,
    * cleared of denominators: with M edges and per-edge endpoint degrees
    * (j, k),
    *
    *   r = (4M·Σjk − (Σ(j+k))²) / (2M·Σ(j²+k²) − (Σ(j+k))²)
    *
    * returned as (m_edges, r_num, r_den) in BIGINTs, so the cross-engine
    * compare is integer-exact like [[modularity]] (no float summation
    * order). Negative r = hubs attach to leaves (the zipf fixture's
    * regime, as for most synthetic preferential graphs).
    *
    * Scale shape: one canonicalization shuffle, one partial-combining
    * degree aggregation, two broadcast-or-shuffle hash joins keyed on the
    * endpoints, one global partial-combining sum — linear in |E|. The
    * BIGINT headroom bound is Σ j²·deg ≤ M·maxdeg²: overflow needs
    * maxdeg ≳ 3M·10⁹/M — not reachable before 4M·Σjk itself leaves the
    * measurable range. */
  def assortativity(edges: DataFrame): DataFrame = {
    val canon = edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    val m = canon.count()
    val deg = canon.select(col("a").as("id")).union(canon.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val s = canon
      .join(deg.select(col("id").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("deg").as("db")), "b")
      .agg(sum(col("da") * col("db")).as("sjk"),
        sum(col("da") + col("db")).as("sjpk"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sj2k2"))
    s.select(lit(m).as("m_edges"),
      (lit(4L) * m * col("sjk") - col("sjpk") * col("sjpk"))
        .cast("long").as("r_num"),
      (lit(2L) * m * col("sj2k2") - col("sjpk") * col("sjpk"))
        .cast("long").as("r_den"))
  }

  /** G19: landmark-labeling distance estimates (the pivot/landmark half
    * of 2-hop labeling, Akiba et al. SIGMOD'13 pruned landmark labeling;
    * the plain upper bound d̂(u,v) = min_l d(u,l)+d(l,v) here): BFS from
    * `nLandmarks` md5-least landmarks builds a (landmark, vertex, dist)
    * label table ONCE, after which any pair's estimate is a label join —
    * no per-query traversal. The 100 TB shape: label build is nLandmarks
    * MultiBFS sweeps (V·L rows, linear in V), estimates are broadcast-
    * joinable lookups; probe pairs here are two md5 samples crossed
    * (`nProbes`² pairs) so the entry's cost is sample-bounded. Pairs
    * outside every landmark's `maxDepth` ball drop out (inner join) —
    * the label table abstains rather than guessing.
    *
    * The estimate is an UPPER bound on d(u, v) only for SYMMETRIC
    * input (labels hold d(l→x); the bound needs d(u→l) + d(l→v), equal
    * only when distances are symmetric — PropertySpec checks it on
    * symmetrized random graphs). A directed deployment keeps forward
    * AND backward label tables (BFS along both edge directions). */
  def landmarkDistanceEstimates(edges: DataFrame, nLandmarks: Int = 5,
                                nProbes: Int = 20, maxDepth: Int = 4,
                                salt: String = "lm"): DataFrame = {
    val e = edges.select("src", "dst").distinct().localCheckpoint(true)
    val verts = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct().localCheckpoint(true)
    def sample(n: Int, tag: String) = verts
      .orderBy(md5(concat(lit(salt + tag + "|"), col("id").cast("string"))), col("id"))
      .limit(n)
    val lms = sample(nLandmarks, "").select(col("id").as("source"), col("id"))
    val labels = bfsDistances(e, lms, maxDepth).localCheckpoint(true)
    val pairs = sample(nProbes, "u").select(col("id").as("u"))
      .crossJoin(sample(nProbes, "v").select(col("id").as("v")))
      .filter(col("u") =!= col("v"))
    val du = labels.select(col("source").as("l"), col("id").as("u"), col("dist").as("du"))
    val dv = labels.select(col("source").as("l"), col("id").as("v"), col("dist").as("dv"))
    pairs.join(du, Seq("u")).join(dv, Seq("v", "l"))
      .groupBy("u", "v")
      .agg(min(col("du") + col("dv")).as("est_dist"),
        count(lit(1)).as("n_landmarks"))
  }

  /** C12: semi-supervised label propagation (the Zhu–Ghahramani '02
    * shape made deterministic): seed vertices carry a known class and are
    * CLAMPED (they never change — the property that separates
    * classification from [[lpaCommunities]]' unsupervised self-labels);
    * every other vertex takes, each round, the most-voted label among its
    * labeled in-neighbors (count desc, label asc — computed as ONE
    * partial-combining `min(struct(-count, label))`, no window sort), or
    * keeps its current label when no labeled neighbor votes. Seeds here
    * are id % 10 == 0 with class id % 3 (the deterministic fixture
    * stand-in for human labels). Unreached vertices report -1.
    *
    * Scale shape: per round, one hash join of the edge list (pinned
    * hashed on src; the initial labels' eager checkpoint builds it)
    * against the labeled vertex set and two keyed partial-combining
    * aggregations — the [[lpaCommunities]] cost model with a clamp. */
  def semiSupervisedLabels(edges: DataFrame, rounds: Int = 3): DataFrame = pinned { pins =>
    val adj = pins(edges.select("src", "dst").distinct().repartition(col("src")))
    val seedLbl = when(col("id") % 10 === 0, col("id") % 3)
    var lab = adj.select(col("src").as("id"))
      .unionByName(adj.select(col("dst").as("id"))).distinct()
      .withColumn("lbl", seedLbl).localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val votes = adj
        .join(lab.filter(col("lbl").isNotNull)
          .select(col("id").as("src"), col("lbl").as("nl")), "src")
        .groupBy(col("dst").as("vv"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy("vv").agg(min(struct((-col("c")).as("nc"), col("nl").as("l")))
          .as("m"))
        .select(col("vv"), col("m.l").as("voted"))
      // lazy: fixed-round loop needs lineage truncation only (r14)
      lab = lab.join(votes, lab("id") === votes("vv"), "left")
        .select(lab("id"),
          when(lab("id") % 10 === 0, lab("lbl"))
            .otherwise(coalesce(col("voted"), lab("lbl"))).as("lbl"))
        .localCheckpoint(false)
    }
    lab.select(col("id"), coalesce(col("lbl"), lit(-1L)).as("lbl"))
  }

  /** G23: maximal matching by deterministic parallel greedy (the
    * Israeli–Itai '86 shape with md5 edge priorities instead of coin
    * flips — the [[maximalIndependentSet]] determinization applied to the
    * LINE graph without materializing it): each round an edge joins the
    * matching iff its priority is the minimum among the remaining edges
    * at BOTH endpoints (a local test — two keyed min-aggregations, no
    * global sort), then all edges touching matched vertices retire.
    * Priorities are md5(salt‖src‖dst) with a zero-padded id suffix, so
    * every round's winner set is engine-exact and the oracle unrolls the
    * rounds. Greedy matching is a 1/2-approximation to maximum matching —
    * the standard scalable contract.
    *
    * Scale shape: per round, one tagged-union endpoint-min aggregation
    * (partial-combining) and two hash joins of the remaining edge list
    * against it; the edge list shrinks monotonically and localCheckpoints
    * per round ([[greedyRounds]]). O(log) rounds w.h.p. Fails loudly past
    * `maxIter`. */
  def maximalMatching(canon: DataFrame, salt: String = "mm",
                      maxIter: Int = 20): DataFrame = {
    val prio = concat(
      md5(concat(lit(salt + "|"), col("src").cast("string"),
        lit("|"), col("dst").cast("string"))),
      lpad(col("src").cast("string"), 10, "0"),
      lpad(col("dst").cast("string"), 10, "0"))
    greedyRounds(
        canon.select("src", "dst").filter(col("src") =!= col("dst"))
          .distinct().withColumn("p", prio),
        Seq("src", "dst"), maxIter,
        s"maximalMatching did not retire all edges within maxIter=$maxIter rounds")(
      pick = e => {
        val vmin = e.select(explode(array(col("src"), col("dst"))).as("v"), col("p"))
          .groupBy("v").agg(min("p").as("mp"))
        e.join(vmin.select(col("v").as("src"), col("mp").as("mpa")), "src")
          .join(vmin.select(col("v").as("dst"), col("mp").as("mpb")), "dst")
          .filter(col("p") === col("mpa") && col("p") === col("mpb"))
          .select("src", "dst")
      },
      retire = (e, winners) => {
        val mv = winners.select(explode(array(col("src"), col("dst"))).as("v"))
          .distinct()
        e.join(mv.withColumnRenamed("v", "src"), Seq("src"), "left_anti")
          .join(mv.withColumnRenamed("v", "dst"), Seq("dst"), "left_anti")
          .select("src", "dst", "p")
      })
  }

  /** G22: truncated Katz centrality (Katz '53) in exact integers —
    * x(v) = Σ_{k=1..3} α^k · walks_k(v), where walks_k(v) counts directed
    * walks of length k ending at v over the MULTI-edge graph (parallel
    * edges are parallel walks, the reference's multigraph semantics).
    * α = 1/2 is cleared to the ×8 scale: katz_x8 = 4·w1 + 2·w2 + 1·w3 —
    * all BIGINT walk counts, so the ranking is engine-exact (the
    * [[PageRank]] scaled-integer discipline without the division). The
    * truncation IS the determinism: a converging infinite sum would be
    * float; three terms keep the eigenvector-centrality flavor (longer
    * walks count, attenuated) in exact arithmetic.
    *
    * Scale shape: walks_{k+1} is ONE hash join of the edge list against
    * the previous vertex-sized count vector plus a partial-combining sum
    * keyed on dst (hub vertices combine map-side); the final blend is a
    * tagged union + one keyed sum — the r9 single-shuffle trick. The edge
    * list is pinned hashed on src for the call, like [[connectedComponents]]. */
  def katzCentrality(edges: DataFrame, k: Int = 20): DataFrame = pinned { pins =>
    // no eager count: the cache materializes inside w1's stage job, and
    // lazy checkpoints skip the per-term full-pass count jobs (r14)
    val e = pins(edges.select("src", "dst").repartition(col("src")))
    val w1 = e.groupBy("dst").agg(count(lit(1)).as("w")).localCheckpoint(false)
    def step(prev: DataFrame): DataFrame =
      e.join(prev.select(col("dst").as("src"), col("w")), "src")
        .groupBy("dst").agg(sum("w").as("w")).localCheckpoint(false)
    val w2 = step(w1)
    val w3 = step(w2)
    w1.select(col("dst"), (col("w") * 4).as("c"))
      .unionByName(w2.select(col("dst"), (col("w") * 2).as("c")))
      .unionByName(w3.select(col("dst"), col("w").as("c")))
      .groupBy(col("dst").as("id")).agg(sum("c").cast("long").as("katz_x8"))
      .orderBy(col("katz_x8").desc, col("id")).limit(k)
  }
}
