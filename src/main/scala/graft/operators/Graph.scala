package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Tables

/** Link-graph analytics — the quality-prior side of web-scale corpus
  * curation (PageRank-style link scores are a standard document-quality
  * signal when assembling training data from a crawl; the reference has
  * no graph surface, so this extends the engine the same way the dedup
  * family does).
  *
  * The graph here is the customer–supplier trading graph derived from
  * order flows: one undirected edge per distinct (customer, supplier)
  * pair that appears in orders ⋈ lineitem, materialized as two directed
  * edges so the adjacency is symmetric. That guarantees every node has
  * in-degree = out-degree ≥ 1: no dangling-mass correction term is
  * needed, which keeps the per-iteration plan a pure join + partial
  * aggregate (and keeps the DuckDB oracle bit-comparable).
  *
  * Scale shape: the edge list persists once (reused every iteration);
  * each iteration is one shuffle — ranks join edges+degrees on `src`
  * (same key, co-partitioned by AQE) and partial-aggregate the
  * contributions on `dst`. State per node is one double; nothing is
  * collected to the driver except the node count (one scalar, the
  * IvfIndex-style bounded exception). A fixed iteration count (default
  * 5) keeps the lineage shallow; at 100 TB you would localCheckpoint
  * every few rounds exactly as `Dedup.connectedComponents` does.
  */
object Graph {

  /** Raw (custkey, suppkey) trading pairs, one row per lineitem — NOT
    * deduplicated. The projection operators dedup inside their one
    * per-customer shuffle (collect_set), so handing them raw pairs saves
    * a full corpus-sized distinct() exchange; [[tradePairs]] keeps the
    * distinct contract for consumers that need the pair SET (pagerank's
    * edge list). The orders side prunes to 2 columns and broadcasts.
    */
  def tradePairsRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), $"o_orderkey" === $"l_orderkey")
      .select($"o_custkey".as("ck"), $"l_suppkey".as("sk"))
  }

  /** Distinct (custkey, suppkey) trading pairs — the raw bipartite graph. */
  def tradePairs(s: SparkSession, dir: String): DataFrame =
    tradePairsRaw(s, dir).distinct()

  /** Symmetric edge list: distinct trading pairs in both directions.
    * Node ids are longs with the bipartite side in the low bit
    * (customer c → 2c, supplier s → 2s+1) — 8-byte keys shuffle and
    * hash ~3× cheaper than the "c123"/"s45" strings they encode.
    */
  def tradeEdges(s: SparkSession, dir: String): DataFrame =
    tradeEdgesOf(tradePairs(s, dir))

  /** Core of [[tradeEdges]] over any (ck, sk) pair frame. */
  def tradeEdgesOf(pairsRaw: DataFrame): DataFrame = {
    val s = pairsRaw.sparkSession
    import s.implicits._
    val pairs = pairsRaw
      .select(($"ck" * 2).as("a"), ($"sk" * 2 + 1).as("b"))
    pairs.select($"a".as("src"), $"b".as("dst"))
      .union(pairs.select($"b".as("src"), $"a".as("dst")))
  }

  /** g01: fixed-iteration PageRank (damping 0.85, 5 rounds) over the
    * trading graph. Output is the rank scaled relative to the uniform
    * 1/N prior (mean 1.0), rounded to 4 dp so fp summation order can't
    * flip the oracle hash. The oracle unrolls the identical iteration
    * arithmetic as chained CTEs — including writing the teleport term
    * as (1.0 - 0.85)/n rather than 0.15/n, because those are different
    * doubles and both engines must compute the same one.
    */
  def pagerank(s: SparkSession, dir: String,
               iters: Int = 5, damping: Double = 0.85): DataFrame =
    pagerankOf(tradeEdges(s, dir), iters, damping)

  /** Shared per-iteration prep: the edge list persisted pre-partitioned
    * AND pre-sorted on the join key (every iteration joins on src, so
    * paying the exchange+sort once lets all the sort-merge joins reuse
    * the cached layout — only the |V|-row rank side moves per round) and
    * the out-degree frame. Both [[pagerankOf]] and
    * [[pagerankConvergedOf]] run EXACTLY this (one shared body, so the
    * bit-identity GraphSpec pins cannot drift).
    */
  private def pagerankSetup(edges: DataFrame): (DataFrame, DataFrame) = {
    val s = edges.sparkSession
    import s.implicits._
    val e = edges
      .repartition($"src")
      .sortWithinPartitions($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy($"src")
      .agg(count(lit(1)).cast("double").as("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (e, deg)
  }

  /** One PageRank round — the single definition of the iteration
    * arithmetic (including writing the teleport term as
    * `(1.0 - damping) / n`, which is a different double from
    * `0.15 / n` and must match the oracle's CTEs). Folds outdeg into
    * the node-count-sized rank frame FIRST (broadcast join between two
    * |V|-row frames), so only one weight per edge flows into the partial
    * aggregate on dst — never an edge-sized three-way join. The round
    * frame is localCheckpoint'd (the connectedComponents pattern): round
    * k's broadcast reads round k−1 from materialized blocks instead of
    * recomputing the whole iteration chain — O(iters) vs O(iters²).
    */
  private def pagerankRound(e: DataFrame, deg: DataFrame, ranks: DataFrame,
      n: Double, damping: Double, eager: Boolean): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val weights = ranks.join(deg, $"node" === $"src")
      .select($"node".as("w_node"), ($"r" / $"outdeg").as("w"))
    e.join(weights, $"src" === $"w_node")
      .groupBy($"dst")
      .agg(sum($"w").as("contrib"))
      .select($"dst".as("node"),
        (lit((1.0 - damping) / n) + lit(damping) * $"contrib").as("r"))
      .localCheckpoint(eager)
  }

  /** Final output shape shared by both variants: rank relative to the
    * uniform 1/N prior (mean 1.0), rounded to 4 dp so fp summation order
    * can't flip the oracle hash.
    */
  private def rankRel(ranks: DataFrame, n: Double): DataFrame = {
    val s = ranks.sparkSession
    import s.implicits._
    ranks
      .select($"node", round($"r" * lit(n), 4).as("rank_rel"))
      .orderBy($"node")
  }

  /** Core of [[pagerank]] over any symmetric (src, dst) edge frame. */
  def pagerankOf(edges: DataFrame,
                 iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val s = edges.sparkSession
    import s.implicits._
    val (e, deg) = pagerankSetup(edges)
    // Symmetric graph: deg's key set IS the node set. One bounded scalar
    // to the driver (node count), as documented in SURVEY §5 exceptions.
    val n = deg.count().toDouble
    var ranks = deg.select($"src".as("node"), lit(1.0 / n).as("r"))
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (it <- 1 to iters) {
      // The LAST round checkpoints eagerly: that one action materializes
      // the whole chain, after which the edge/degree caches and the
      // intermediate rounds' checkpoint blocks can be released HERE —
      // nothing internal outlives the returned frame (VERDICT r14 #3; at
      // production scale the terminal sink write is this materialization).
      ranks = pagerankRound(e, deg, ranks, n, damping, eager = it == iters)
      if (it < iters) rounds += ranks
    }
    e.unpersist()
    deg.unpersist()
    rounds.foreach(
      org.apache.spark.sql.graft.SparkInternals.releaseCheckpointBlocks)
    rankRel(ranks, n)
  }

  /** Early-stopping PageRank (VERDICT r17 #7): [[pagerank]]'s iteration
    * with an L1-convergence test instead of a fixed round count — the
    * production form for graphs whose mixing time is unknown, where
    * fixed-iteration either burns full edge-join rounds after
    * convergence or stops short. The oracled g01 key stays
    * fixed-iteration (its DuckDB oracle unrolls exactly `iters` CTEs);
    * GraphSpec pins this variant bit-identical to the fixed form at the
    * executed round count, with the stop firing inside the budget and
    * rounds monotone in `eps`.
    *
    * Convergence-rate caveat: the damped chain contracts at d·|λ2| per
    * round, and the trade graph is BIPARTITE (λ2 = −1), so delta decays
    * at exactly `damping` per round there (measured: 1.487·0.85^(k−1)
    * unscaled-r L1 at sf0.001) — an eps below what `maxIters` rounds can
    * reach simply spends the whole budget, same cost as fixed-iteration
    * plus one |V|-scalar agg per round. Fast-mixing graphs (the usual
    * web/co-occurrence case) are where the early exit pays.
    *
    * Returns (ranks, roundsExecuted). Cost per round on top of the edge
    * join: one |V|-row join + agg reduced to ONE driver scalar (the L1
    * delta) — the same bounded-collect class as the node count; the
    * |E|-row work is untouched. Each round checkpoints eagerly — the
    * delta test materializes it anyway — so lineage stays O(1) and
    * stale rounds' blocks are released as soon as the next lands.
    */
  def pagerankConvergedOf(edges: DataFrame, eps: Double = 1e-6,
      maxIters: Int = 50, damping: Double = 0.85): (DataFrame, Int) = {
    val s = edges.sparkSession
    import s.implicits._
    val (e, deg) = pagerankSetup(edges)
    val n = deg.count().toDouble
    var ranks = deg.select($"src".as("node"), lit(1.0 / n).as("r"))
      .localCheckpoint(true)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIters && delta >= eps) {
      it += 1
      val next = pagerankRound(e, deg, ranks, n, damping, eager = true)
      // Symmetric graph: every node has in- AND out-edges, so the two
      // rounds' node sets are identical and the inner join is total.
      delta = next
        .join(ranks.select($"node", $"r".as("r_prev")), Seq("node"))
        .agg(sum(abs($"r" - $"r_prev"))).head().getDouble(0)
      // the delta head() consumed round k−1; release it NOW so at most
      // two generations of |V|-row checkpoint blocks are ever resident
      // (the dead-generation class this round's CacheHygiene work is
      // about — here kept O(1) inside the operator itself)
      org.apache.spark.sql.graft.SparkInternals.releaseCheckpointBlocks(ranks)
      ranks = next
    }
    e.unpersist()
    deg.unpersist()
    (rankRel(ranks, n), it)
  }

  /** The oracle mirrors pagerank() exactly: same edge construction, same
    * teleport arithmetic, one CTE per iteration.
    */
  def pagerankSql(iters: Int = 5, damping: Double = 0.85): String = {
    val head =
      """WITH pairs AS (
        |  SELECT DISTINCT (o_custkey * 2) AS a, (l_suppkey * 2 + 1) AS b
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |edges AS (SELECT a AS src, b AS dst FROM pairs
        |          UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |deg AS (SELECT src, count(*)::DOUBLE AS outdeg FROM edges GROUP BY src),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM deg),
        |pr0 AS (SELECT src AS node, 1.0 / (SELECT n FROM nn) AS r FROM deg)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT e.dst AS node,
         |    (1.0 - $damping) / (SELECT n FROM nn)
         |      + $damping * sum(p.r / d.outdeg) AS r
         |  FROM edges e
         |  JOIN deg d ON e.src = d.src
         |  JOIN pr${i - 1} p ON e.src = p.node
         |  GROUP BY e.dst)""".stripMargin
    }
    val tail =
      s"""SELECT node, round(r * (SELECT n FROM nn), 4) AS rank_rel
         |FROM pr$iters
         |ORDER BY node""".stripMargin
    (head +: steps).mkString(",\n") + "\n" + tail
  }

  /** g02: co-purchase similarity — the one-mode projection of the
    * bipartite customer–supplier graph: for every supplier pair, the
    * number of shared customers and the Jaccard overlap of their
    * customer sets (the item-item collaborative-filtering primitive;
    * in a document pipeline the same shape computes source-source or
    * domain-domain audience overlap).
    *
    * Scale shape: ONE corpus-sized shuffle total (raw pairs repartition
    * by custkey; collect_set dedups and builds the per-customer supplier
    * array in the same pass — r12 spent two additional |pairs| exchanges
    * on a separate distinct() and a partial-set collect). Pairs expand
    * per CUSTOMER map-side from the ≤maxFan array via one codegen'd
    * OrderedPairs pass, so the blow-up factor is each customer's
    * supplier-list size, NOT the supplier count, and is bounded IN CODE:
    * customers whose supplier list exceeds `maxFan` are excluded from
    * pair generation (a hub customer that trades with everyone carries
    * no similarity signal and would contribute fan² pairs). The
    * aggregate output is capped at |suppliers|² regardless of fact size,
    * and per-supplier customer counts arrive via a broadcast from a
    * partial-aggregatable groupBy — never a window. The alternative
    * "join per-supplier customer adjacencies onto candidate pairs and
    * merge-count" (g03's per-EDGE identity) was rejected here: it ships
    * each supplier's full customer array once per candidate pair — the
    * d11b vectors-through-the-shuffle disease — whereas wedge partial
    * aggregation ships only (sk_a, sk_b, n) rows.
    */
  def copurchase(s: SparkSession, dir: String,
                 maxFan: Int = 64, minCommon: Long = 2, top: Int = 50): DataFrame = {
    val (supSize, common) = projectionTables(s, dir, maxFan, minCommon)
    copurchaseFinish(supSize, common, top)
  }

  /** Shared-customer counts per ordered supplier pair (sk_a < sk_b) —
    * the one-mode projection's edge weights; g02 ranks them by Jaccard
    * and g03 counts triangles among them.
    *
    * One shuffle on custkey into a sorted per-customer supplier array,
    * fan-bounded in code (t18's vocab-cutoff discipline), then pair
    * expansion happens MAP-SIDE from the ≤maxFan array — no second
    * shuffle of the fact-sized pair table, and the partial aggregate
    * on (sk_a, sk_b) is bounded by |suppliers|² regardless of corpus.
    * Two chained codegen'd explodes + an ordering filter, NOT a nested
    * higher-order `transform` — HOFs evaluate per-element interpreted
    * lambdas, which measured 20× slower than generated code on the ×16
    * probe's 184M expanded pairs (the round-1 SimHash lesson again).
    */
  /** Per-customer distinct sorted supplier arrays — the projection's ONE
    * corpus-sized shuffle (collect_set dedups any repeated raw pairs in
    * the same pass, so callers hand in RAW pairs and no separate
    * distinct() exchange ever runs). Emitted PRE-fan-filter so
    * [[copurchaseOf]] reads true per-supplier set sizes from the same
    * persisted frame map-side.
    *
    * Plain groupBy, no explicit repartition (r19, VERDICT r18 #5 —
    * guide §2.3 partial-agg-below-the-exchange, decided on the sf10
    * trade pairs, OPTIMIZATION_r19.md): the partial ObjectHashAggregate dedups
    * map-side and the exchange carries per-task partial sets instead of
    * raw pair rows. Measured min/median 6.4-7.0/7.6-10.0 s (repartition
    * form) → 5.5-6.0/5.7-6.7 s at 32c, 19.9/29.1 → 15.6/16.1 s at 8c —
    * and the former's wide spread (max 16-28 s) collapses. The probe's
    * third arm (map-side pre-distinct on the pair key, then re-exchange
    * by ck) was FASTER still in one run but doubles shuffle bytes at
    * any network-bound scale (dup_ratio is only 1.022, so both
    * exchanges carry ~the full pair set) — rejected as a local-only
    * win.
    */
  def customerArrays(pairsRaw: DataFrame): DataFrame = {
    val s = pairsRaw.sparkSession
    import s.implicits._
    pairsRaw.select($"ck", $"sk")
      .groupBy($"ck").agg(sort_array(collect_set($"sk")).as("sks"))
  }

  /** Wedge counting over a [[customerArrays]] frame: the ≤maxFan arrays
    * expand to ordered pairs MAP-SIDE via one codegen'd expression
    * ([[org.apache.spark.sql.graft.OrderedPairs]] — n(n-1)/2 structs, no
    * double-explode generating n² rows and filtering half).
    *
    * The wedge stream is DELIBERATELY repartitioned on the pair key
    * before aggregating, instead of letting the groupBy run a map-side
    * partial: customers are unclustered, so a partition's wedges rarely
    * repeat a pair — measured at sf0.1, the partial pass cut wedge
    * shuffle only ~20% while paying a ~300k-entry hash table per task
    * (1.33 s vs 0.97 s wall). Raw 16-byte wedge rows shuffle exactly
    * once, scale linearly in wedge count (itself fan-bounded per
    * customer), hash uniformly (no skew), and aggregate in one
    * post-shuffle pass with no spill-prone map-side state.
    */
  def projectionCommonOf(arrays: DataFrame, maxFan: Int,
                         minCommon: Long): DataFrame = {
    val s = arrays.sparkSession
    import s.implicits._
    arrays.filter(size($"sks") <= maxFan)
      .select(explode(org.apache.spark.sql.graft.GraftFunctions
        .ordered_pairs($"sks")).as("pr"))
      .select($"pr.a".as("sk_a"), $"pr.b".as("sk_b"))
      .repartition($"sk_a", $"sk_b")
      .groupBy($"sk_a", $"sk_b")
      .agg(count(lit(1)).as("common"))
      .filter($"common" >= minCommon)
  }

  /** [[projectionCommonOf]] from a pair frame (raw or distinct). */
  def projectionCommon(pairs: DataFrame, maxFan: Int, minCommon: Long): DataFrame =
    projectionCommonOf(customerArrays(pairs), maxFan, minCommon)

  /** The tables the trading graph's memo entries are built from. */
  private val tradeTables = Seq("orders", "lineitem")

  /** Memoized per-customer supplier arrays per (session, dir) — the ONE
    * corpus-sized shuffle the whole graph family (g02's wedge
    * projection, g02b's sketch arrays, g03 via g02) starts from, paid
    * once per corpus: "materialize the projection input once, query it
    * many times", exactly the projectionTables layout one level down.
    * r15 measurement (CHANGELOG.md, sf10): rebuilding this stage inside
    * g02b — via EITHER shape — dominates its wall; the r14-suggested
    * anti-join rewrite was additionally 2-3× slower than the
    * arrays-derived form because its fan side forces a SECOND
    * orders⋈lineitem build and countDistinct's double exchange.
    * A localCheckpoint held in the [[graft.CacheHygiene]] registry.
    */
  def tradeArraysTable(s: SparkSession, dir: String): DataFrame =
    graft.CacheHygiene.memo(s, dir, "tradeArrays", tradeTables)(
      Seq(customerArrays(tradePairsRaw(s, dir)).localCheckpoint())).head

  /** Memoized (supSize, common) projection tables per
    * (session, dir, maxFan, minCommon) — the Dedup.clusterTable
    * contract applied to the one-mode projection: g02 and g03 are two
    * views of the SAME projection (g03's strong edges are a quantile
    * thinning of g02's common table), and the wedge shuffle behind it is
    * the most expensive step in the graph family, so it runs once per
    * (session, corpus) and both queries derive from the materialized
    * result, held in the [[graft.CacheHygiene]] registry.
    */
  def projectionTables(s: SparkSession, dir: String, maxFan: Int = 64,
                       minCommon: Long = 2): (DataFrame, DataFrame) = {
    import s.implicits._
    val Seq(supSize, common) = graft.CacheHygiene.memo(s, dir,
        s"projection:$maxFan:$minCommon", tradeTables) {
      val arrays = tradeArraysTable(s, dir)
      // Per-supplier customer-set sizes: re-exploded MAP-SIDE from the
      // pre-fan-filter arrays (true set sizes — the fan bound only
      // limits pair GENERATION, not the denominators).
      Seq(arrays.select(explode($"sks").as("sk"))
          .groupBy($"sk").agg(count(lit(1)).as("n_cust"))
          .localCheckpoint(),
        projectionCommonOf(arrays, maxFan, minCommon).localCheckpoint())
    }
    (supSize, common)
  }

  /** Jaccard ranking over an already-built (supSize, common) pair —
    * the final (cheap) stage of [[copurchase]], shared by the memoized
    * and the any-frame forms.
    */
  private def copurchaseFinish(supSize: DataFrame, common: DataFrame,
                               top: Int): DataFrame = {
    val s = common.sparkSession
    import s.implicits._
    common
      .join(broadcast(supSize.select($"sk".as("sk_a"), $"n_cust".as("na"))), "sk_a")
      .join(broadcast(supSize.select($"sk".as("sk_b"), $"n_cust".as("nb"))), "sk_b")
      .select($"sk_a", $"sk_b", $"common",
        round($"common" / ($"na" + $"nb" - $"common") + lit(1e-9), 6).as("jaccard"))
      .orderBy($"jaccard".desc, $"common".desc, $"sk_a", $"sk_b")
      .limit(top)
  }

  /** Core of [[copurchase]] over any (ck, sk) pair frame — raw
    * (duplicate-bearing) input is fine: the per-customer collect_set
    * dedups in the projection's single corpus shuffle. Memo-free (tests
    * and probes hand in synthetic frames); the dir-keyed [[copurchase]]
    * rides [[projectionTables]]. Self-cleaning
    * ([[SelfClean.releasing]]): the persisted per-customer arrays are
    * released when the (≤top-row) result materializes.
    */
  def copurchaseOf(pairsRaw: DataFrame,
                   maxFan: Int = 64, minCommon: Long = 2, top: Int = 50): DataFrame = {
    val s = pairsRaw.sparkSession
    import s.implicits._
    SelfClean.releasing(customerArrays(pairsRaw)) { arrays =>
      val supSize = arrays.select(explode($"sks").as("sk"))
        .groupBy($"sk").agg(count(lit(1)).as("n_cust"))
      copurchaseFinish(supSize, projectionCommonOf(arrays, maxFan, minCommon), top)
    }
  }

  /** g02b: sketch-triage co-purchase — the documented 100 TB alternative
    * when even one wedge pass over the projection is unpayable (VERDICT
    * r13 #3): instead of expanding fan² wedges per customer, treat each
    * supplier's (fan-bounded) customer set as a document — customer ids
    * hashed to 64-bit tokens — and run the EXISTING d02 MinHash-LSH
    * machinery over it ([[graft.operators.Dedup.minhashPairsFromShingles]],
    * skew guard and merge-walk verify included): candidates come from
    * band buckets, the reported jaccard is the EXACT merge-walk value
    * over the hashed sets, and wedge mass never exists at any point.
    *
    * Shuffle shape (r15, VERDICT r14 #3 — answered by measurement): the
    * dir-keyed form starts from the MEMOIZED [[tradeArraysTable]] (the
    * same per-customer arrays pass g02/g03's projection starts from,
    * paid once per corpus), so g02b's marginal cost is one exchange of
    * the exploded DISTINCT pairs by supplier plus |suppliers|-sized
    * banding. The verdict-suggested alternative — a broadcast anti-join
    * fan bound over the raw stream with one direct groupBy(sk) — was
    * built and A/B'd (r15, CHANGELOG.md, sf10, bit-identical arrays:
    * symmdiff = 0): it measured 2-3× SLOWER (96-131 s vs 37-43 s
    * warm), because its fan side forces a SECOND orders⋈lineitem build
    * and `countDistinct(sk) by ck` pays a two-exchange distinct
    * rewrite, while the arrays-derived shape gets the fan bound for
    * free from the one shuffled pass it shares with the projection.
    *
    * Jaccard convention (documented divergence from g02, ADVICE r14):
    * g02b's numerator AND denominator are both over the FAN-BOUNDED
    * customer sets (the merge-walk jaccard of the sets the sketch
    * actually indexes — a self-consistent set similarity), while g02
    * reports a hybrid: fan-bounded common count over UNFILTERED true
    * set sizes. On a hub-free corpus the two are identical (GraphSpec
    * 1e-5 parity pin); on a corpus with hub customers g02b's jaccard is
    * ≥ g02's for the same pair (its denominator drops the hub mass too
    * — GraphSpec plants a hub and pins both values). The bounded-set
    * convention is deliberate: hub customers carry no similarity signal,
    * so the sketch ranks pairs by the signal-bearing overlap alone.
    *
    * Regime contract (GraphSpec pins both sides): on a SPARSE similarity
    * graph — distinct supplier pairs separated in jaccard, the realistic
    * 100 TB shape — recall vs the exact projection is the banding
    * s-curve (≈1 above ~0.35 at 32×2) and the surfaced pairs' jaccards
    * are exact. On a degenerate-DENSE graph (the sf0.1 trade projection
    * is near-complete with all jaccards ≈ 0.25) the bucket cap prunes
    * the near-tie mass by design — that regime is exactly where g02's
    * exact wedge projection is the optimal plan, and the cap is what
    * keeps the sketch path from silently reconstructing all-pairs work.
    * Banding defaults (32 bands × 2 rows, s-curve midpoint ≈ 0.18) are
    * tuned to surface the j ≳ 0.2 tail; `minJaccard` floors the exact
    * verify.
    */
  def copurchaseSketch(s: SparkSession, dir: String,
                       maxFan: Int = 64, minJaccard: Double = 0.2,
                       top: Int = 50, bands: Int = 32, rows: Int = 2,
                       maxBucket: Int = 64): DataFrame =
    sketchFromArrays(tradeArraysTable(s, dir), maxFan,
      minJaccard, top, bands, rows, maxBucket)

  /** Core of [[copurchaseSketch]] over any (ck, sk) pair frame. */
  def copurchaseSketchOf(pairsRaw: DataFrame,
                         maxFan: Int = 64, minJaccard: Double = 0.2,
                         top: Int = 50, bands: Int = 32, rows: Int = 2,
                         maxBucket: Int = 64): DataFrame =
    sketchFromArrays(customerArrays(pairsRaw), maxFan, minJaccard,
      top, bands, rows, maxBucket)

  /** The sketch pipeline over a [[customerArrays]] frame (memoized or
    * fresh): hub customers (fan > maxFan) are excluded map-side from the
    * ≤maxFan arrays — the same rule as g02's wedge stage — and the
    * customer ids hash to 8-byte tokens at explode time (the
    * shingle-hash discipline of the text path), so the ONE supplier-side
    * exchange carries only distinct hashed pairs. Self-cleaning
    * ([[SelfClean.releasing]]): the persisted per-supplier customer-hash
    * arrays are released when the (≤top-row) result materializes.
    */
  private def sketchFromArrays(arrays: DataFrame, maxFan: Int,
                               minJaccard: Double, top: Int, bands: Int,
                               rows: Int, maxBucket: Int): DataFrame = {
    val s = arrays.sparkSession
    import s.implicits._
    val supCust = arrays
      .filter(size($"sks") <= maxFan)
      .select($"ck", explode($"sks").as("sk"))
      .groupBy($"sk")
      .agg(sort_array(collect_set(xxhash64($"ck"))).as("sh"))
    SelfClean.releasing(supCust)(cached => graft.operators.Dedup
      .minhashPairsFromShingles(cached.select($"sk".as("doc_id"), $"sh"),
        bands, rows, maxBucket, minJaccard)
      .select($"doc_a".as("sk_a"), $"doc_b".as("sk_b"), $"jaccard")
      .orderBy($"jaccard".desc, $"sk_a", $"sk_b")
      .limit(top))
  }

  def copurchaseSql(maxFan: Int = 64, minCommon: Long = 2, top: Int = 50): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |sup AS (SELECT sk, count(*) AS n_cust FROM pairs GROUP BY sk),
       |fan AS (SELECT ck FROM pairs GROUP BY ck HAVING count(*) <= $maxFan),
       |bounded AS (SELECT p.* FROM pairs p JOIN fan USING (ck)),
       |common AS (
       |  SELECT a.sk AS sk_a, b.sk AS sk_b, count(*) AS common
       |  FROM bounded a JOIN bounded b ON a.ck = b.ck AND a.sk < b.sk
       |  GROUP BY a.sk, b.sk
       |  HAVING count(*) >= $minCommon)
       |SELECT sk_a, sk_b, common,
       |  round(common / (sa.n_cust + sb.n_cust - common) + 1e-9, 6) AS jaccard
       |FROM common
       |JOIN sup sa ON sa.sk = sk_a
       |JOIN sup sb ON sb.sk = sk_b
       |ORDER BY jaccard DESC, common DESC, sk_a, sk_b
       |LIMIT $top""".stripMargin

  /** g03: per-node triangle participation over the similarity graph —
    * the local clustering signal (triangle-dense neighborhoods are
    * communities; in corpus curation the same count separates sources
    * that share audiences in cliques from hub-spoke scrapers). The graph
    * is the one-mode projection's edge set (supplier pairs with ≥
    * `minCommon` shared customers).
    *
    * Counts are computed ARITHMETICALLY by the edge-iterator identity,
    * never by materializing triangle rows: for each edge (u,v) the
    * common-neighbor count c(u,v) = |N(u) ∩ N(v)| counts the triangles
    * through that edge, and a node's triangle count is half the sum of
    * c over its incident edges (each of its triangles is seen by exactly
    * two incident edges). A wedge/3-way-join formulation enumerates every
    * triangle as a row — on a dense projection that is Θ(n³) rows
    * (measured: the sf0.1 trade projection is the COMPLETE graph K1000 →
    * 166M triangle rows + a 500M-row union, 53 s; this formulation does
    * the same count in map-side sorted-array intersections, no
    * triangle-sized intermediate exists at any point).
    *
    * The graph is the STRONG-edge projection: only pairs whose common
    * count clears the `strengthQ` quantile of the pair-common
    * distribution survive. An absolute floor goes degenerate as the
    * corpus grows — measured: minCommon=2 makes the sf0.1 trade
    * projection the COMPLETE graph K1000, on which every node ties and
    * triangle counts carry zero signal — while a quantile keeps the
    * similarity graph sparse and meaningful at any scale. The threshold
    * is the exact interpolated percentile computed from the common-value
    * HISTOGRAM (see [[commonPercentile]] — bounded partial-agg'd
    * groupBy, never Spark's single-final-task exact `percentile`
    * aggregate), applied as a literal filter.
    *
    * Scale shape: the edge set is |suppliers|²-bounded by construction
    * and quantile-thinned on top (independent of fact size — the
    * projection already paid the one corpus shuffle). Adjacency arrays
    * are node-sized rows bounded by the strong-graph degree; the two
    * joins hang them onto the edge list by plain key (AQE broadcasts
    * when small), the per-edge intersection is codegen'd array work, and
    * the final rollup is a partial-aggregatable sum over 2|E| rows.
    */
  def triangles(s: SparkSession, dir: String,
                maxFan: Int = 64, minCommon: Long = 2, top: Int = 50,
                strengthQ: Double = 0.9): DataFrame = {
    val (_, common) = projectionTables(s, dir, maxFan, minCommon)
    trianglesFromEdges(strongEdgesFromCommon(common, strengthQ), top)
  }

  /** Exact interpolated `q` percentile of the `common` column, computed
    * from its VALUE HISTOGRAM instead of Spark's exact `percentile`
    * aggregate: that aggregate is an ObjectHashAggregate buffering every
    * `common` row in the one final reduce task — a single-task OOM on a
    * 100 TB projection (VERDICT r13 #1). Here groupBy(common).count()
    * partial-aggregates map-side to at most |distinct overlap counts|
    * rows — bounded by the largest shared-customer count, independent of
    * |E| and of corpus size — and the interpolation arithmetic runs on
    * the driver over that bounded histogram (the IvfIndex bounded-
    * collect exception). Arithmetic is quantile_cont's definition
    * (h = (n-1)·q between adjacent order statistics), identical to the
    * exact aggregate and to the DuckDB oracle, so the threshold is
    * bit-compatible, not approximate.
    */
  private[graft] def commonPercentile(common: DataFrame, q: Double): Option[Double] = {
    val s = common.sparkSession
    import s.implicits._
    val hist = common.groupBy($"common").agg(count(lit(1)).as("cnt"))
      .orderBy($"common").collect()
    // Empty projection (tiny or fully-pruned corpus): no percentile
    // exists — callers emit an empty strong-edge set instead of
    // crashing (ADVICE r14).
    if (hist.isEmpty) return None
    val n = hist.iterator.map(_.getLong(1)).sum
    val h = (n - 1) * q
    val lo = math.floor(h).toLong
    val hi = math.ceil(h).toLong
    def valueAt(k: Long): Double = {   // 0-based order statistic
      var cum = 0L
      var i = 0
      while (i < hist.length) {
        cum += hist(i).getLong(1)
        if (cum > k) return hist(i).getLong(0).toDouble
        i += 1
      }
      hist.last.getLong(0).toDouble
    }
    val vlo = valueAt(lo)
    Some(vlo + (h - math.floor(h)) * (valueAt(hi) - vlo))
  }

  /** Strong edges from an already-built common table: pairs whose common
    * count clears the exact `strengthQ` percentile of the common
    * distribution, in canonical u < v orientation. See [[triangles]]
    * for why the threshold is relative.
    */
  def strongEdgesFromCommon(common: DataFrame, strengthQ: Double): DataFrame = {
    val s = common.sparkSession
    import s.implicits._
    commonPercentile(common, strengthQ) match {
      case Some(thr) =>
        common.filter($"common" >= lit(thr))
          .select($"sk_a".as("u"), $"sk_b".as("v"))
      case None => // empty projection → empty edge set, same schema
        common.filter(lit(false))
          .select($"sk_a".as("u"), $"sk_b".as("v"))
    }
  }

  /** [[strongEdgesFromCommon]] from a raw pair frame (memo-free — tests
    * and probes hand in synthetic frames; the dir-keyed [[triangles]]
    * rides [[projectionTables]] instead). The common table is persisted:
    * the percentile histogram and the edge filter both read it.
    * Self-cleaning ([[SelfClean.releasing]]): the edge set is
    * checkpointed eagerly (it is the quantile-thinned projection — a
    * small fraction of |E|) and the common-table cache released, so
    * nothing internal outlives the returned frame.
    */
  def strongEdges(pairsRaw: DataFrame, maxFan: Int, minCommon: Long,
                  strengthQ: Double): DataFrame =
    SelfClean.releasing(projectionCommon(pairsRaw, maxFan, minCommon))(
      strongEdgesFromCommon(_, strengthQ))

  /** Core of [[triangles]] over any distinct (ck, sk) pair frame.
    * Self-cleaning: [[strongEdges]] and [[trianglesFromEdges]] each
    * release their caches before returning.
    */
  def trianglesOf(pairsRaw: DataFrame,
                  maxFan: Int = 64, minCommon: Long = 2, top: Int = 50,
                  strengthQ: Double = 0.9): DataFrame =
    trianglesFromEdges(strongEdges(pairsRaw, maxFan, minCommon, strengthQ), top)

  /** Arithmetic triangle participation over a canonical (u < v) strong-
    * edge frame — see [[triangles]] for the edge-iterator identity.
    * Self-cleaning ([[SelfClean.releasing]]): the adjacency cache is
    * released when the ≤top-row result materializes.
    */
  def trianglesFromEdges(e: DataFrame, top: Int = 50): DataFrame = {
    val s = e.sparkSession
    import s.implicits._
    val adj = e.select($"u".as("n"), $"v".as("m"))
      .union(e.select($"v".as("n"), $"u".as("m")))
      .groupBy($"n").agg(sort_array(collect_list($"m")).as("nbrs"))
    SelfClean.releasing(adj)(cached =>
      e.join(cached.select($"n".as("u"), $"nbrs".as("nu")), "u")
        .join(cached.select($"n".as("v"), $"nbrs".as("nv")), "v")
        .select($"u", $"v",
          size(array_intersect($"nu", $"nv")).cast("long").as("c"))
        .select(explode(array($"u", $"v")).as("node"), $"c")
        .groupBy($"node")
        .agg((sum($"c") / 2).cast("long").as("n_tri"))
        .filter($"n_tri" > 0)
        .orderBy($"n_tri".desc, $"node")
        .limit(top))
  }

  def trianglesSql(maxFan: Int = 64, minCommon: Long = 2, top: Int = 50,
                   strengthQ: Double = 0.9): String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |fan AS (SELECT ck FROM pairs GROUP BY ck HAVING count(*) <= $maxFan),
       |bounded AS (SELECT p.* FROM pairs p JOIN fan USING (ck)),
       |common AS (
       |  SELECT a.sk AS u, b.sk AS v, count(*) AS c
       |  FROM bounded a JOIN bounded b ON a.ck = b.ck AND a.sk < b.sk
       |  GROUP BY 1, 2
       |  HAVING count(*) >= $minCommon),
       |thr AS (SELECT quantile_cont(c, $strengthQ) AS t FROM common),
       |edges AS (SELECT u, v FROM common, thr WHERE c >= t),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM edges e1
       |  JOIN edges e2 ON e1.v = e2.u
       |  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
       |SELECT node, count(*) AS n_tri FROM (
       |  SELECT a AS node FROM tri
       |  UNION ALL SELECT b AS node FROM tri
       |  UNION ALL SELECT c AS node FROM tri)
       |GROUP BY node ORDER BY n_tri DESC, node LIMIT $top""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g01_pagerank" -> ((s: SparkSession, d: String) => pagerank(s, d)),
    "g02_copurchase" -> ((s: SparkSession, d: String) => copurchase(s, d)),
    "g02b_copurchase_sketch" ->
      ((s: SparkSession, d: String) => copurchaseSketch(s, d)),
    "g03_triangles" -> ((s: SparkSession, d: String) => triangles(s, d)))

  val oracles: Map[String, String] = Map(
    "g01_pagerank" -> pagerankSql(),
    "g02_copurchase" -> copurchaseSql(),
    "g03_triangles" -> trianglesSql())
}
