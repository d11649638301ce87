package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import Regime.gate

/** Distributed graph operators needed by the dedup pipeline.
  *
  * The one that matters at 100 TB: near-duplicate candidate pairs
  * (MinHash/SimHash/embedding LSH) form an edge list whose connected
  * components are the duplicate CLUSTERS — keeping one canonical doc
  * per cluster is the actual dedup decision. Pairwise removal ("drop
  * every id_b") over-deletes on transitive chains; component-wise
  * keep-min is the standard resolution.
  */
object Graph {

  /** Connected components by iterative min-label propagation with a
    * contraction fallback: `comp(v) ← min(comp(v), min over neighbors
    * comp(u))` (plus pointer-jumping path compression) for up to
    * `switchAfter` rounds — one cheap map-side-partial shuffle per
    * round, and dedup graphs (diameter 1-3 after candidate generation)
    * converge in 2-3. If the graph has NOT converged by then (an
    * adversarial high-diameter topology), the surviving structure is
    * contracted through the current labels (edge (u,v) →
    * (comp(u), comp(v))) and finished by the O(log n)-round
    * large-star/small-star algorithm ([[connectedComponentsStar]]).
    *
    * Each round truncates the iterative lineage: with a checkpoint dir
    * set (`sparkContext.setCheckpointDir`) rounds use RELIABLE
    * `checkpoint()` — a 10-round job on a real cluster survives
    * executor loss, and superseded rounds' DFS files are deleted as
    * they are replaced — else fast executor-local `localCheckpoint()`.
    *
    * Input: an edge list (undirected; parallel edges / self-loops fine).
    * Output: (id, comp) — comp = the minimum vertex id in the component.
    * Deterministic: the fixpoint is unique regardless of iteration or
    * partitioning order.
    */
  def connectedComponents(edges: DataFrame, a: Column, b: Column,
                          maxIter: Int = 25,
                          switchAfter: Int = 8): DataFrame = {
    val e = edges.select(a.cast("long").as("src"), b.cast("long").as("dst"))
    // pre-partitioned on src: each round's neighbor-min aggregate
    // (groupBy src over the dst-keyed labels join) reuses the
    // checkpoint partitioning — in the broadcast-label regime the
    // round's vote path runs without an exchange
    val sym = Checkpoints.stage(
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .repartition(col("src")))
    // node count rides the labels staging job (the broadcast regime
    // gate every other iterative operator here carries — without it,
    // every round's |V|-sized label joins are planned as shuffle
    // joins and each exchange is a per-round barrier)
    val labels0 = Rounds.stage("connectedComponents.labels",
      sym.select(col("src").as("id")).distinct()
        .withColumn("comp", col("id")), Rounds.Rows)
    val n = labels0.count
    val propagationRounds = math.min(maxIter, switchAfter)
    // labels only ever decrease, so the fixpoint is reached exactly
    // when the label sum stops falling (a decimal(38,0) sum observed
    // on each round's staging job — see [[Rounds.Sum]])
    val prop = Rounds.iterate("connectedComponents.round", labels0,
        propagationRounds, Rounds.Sum("comp"),
        done = (p, c) => p.index > 0 && p.sum.compareTo(c.sum) == 0) { t =>
      val labels = t.last.df
      val lbl = gate(n)(labels)
      val nbrMin = sym
        .join(lbl, sym("dst") === lbl("id"))
        .groupBy(sym("src").as("id"))
        .agg(min(col("comp")).as("__nbr"))
      val prop = labels
        .join(gate(n)(nbrMin), Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__nbr"), col("comp")))
            .as("comp"))
      // path compression (pointer jumping): follow one more hop through
      // the PREVIOUS round's (checkpointed, so not recomputed) table —
      // comp ← oldComp(comp). Labels only decrease, so this stays
      // monotone and halves the remaining diameter each round:
      // O(log d) rounds on chains instead of O(d).
      // round 1's jump would follow the IDENTITY init table — a
      // provable no-op, so the join (and its broadcast build) is
      // skipped there
      t.stage(
        if (t.index == 1) prop
        else prop
          .join(gate(n)(labels.select(col("id").as("__cid"),
            col("comp").as("__cc"))), prop("comp") === col("__cid"),
            "left")
          .select(prop("id").as("id"),
            coalesce(col("__cc"), prop("comp")).as("comp")))
    }
    val labels = prop.last.df
    val out =
      if (prop.converged) labels
      else {
        // Contract through the partial labels — same quotient
        // components, (usually far) fewer vertices — and finish with
        // star contraction.
        val relab = sym
          .join(gate(n)(labels.select(col("id"), col("comp").as("cu"))),
            sym("src") === col("id")).drop("id")
          .join(gate(n)(labels.select(col("id"), col("comp").as("cv"))),
            sym("dst") === col("id")).drop("id")
          .select(col("cu").as("src"), col("cv").as("dst"))
          .where(col("src") =!= col("dst"))
          .distinct()
        // clamp: with maxIter <= switchAfter the leftover budget is 0
        // and starRounds would label straight off the UNCONVERGED edges
        // (duplicate ids with conflicting comps); give the fallback at
        // least one round and let its convergence guard fail loudly if
        // that isn't enough.
        val (roots, _) = starRounds(relab, col("src"), col("dst"),
          math.max(1, maxIter - propagationRounds))
        val joined = Checkpoints.stage(labels
          .join(gate(n)(roots.select(col("id").as("__rid"),
            col("comp").as("__rc"))),
            labels("comp") === col("__rid"), "left")
          .select(labels("id"),
            coalesce(col("__rc"), labels("comp")).as("comp")))
        Rounds.free(roots, labels)
        joined
      }
    Rounds.free(sym)
    out
  }

  /** Connected components by alternating large-star/small-star
    * contraction — Kiveris et al., "Connected Components in MapReduce
    * and Beyond" (ACM SoCC 2014): converges in O(log n) rounds on ANY
    * topology (propagation needs O(diameter), O(log d) with path
    * compression), so this is the adversarial-graph path; each round
    * costs two groupBy-min shuffles of 16-byte edges plus a distinct.
    *
    *  - large-star: per vertex u, point every neighbor x > u at
    *    m = min(Γ(u) ∪ {u});
    *  - small-star: orient edges (larger → smaller); per u, point every
    *    smaller neighbor (and u itself) at the minimum.
    *
    * Both preserve connectivity; unions of stars are their fixpoint.
    * Convergence test = "no edge's target is itself a source" (a
    * two-level forest IS a union of stars), one left-semi join on
    * 8-byte keys per round.
    *
    * Output: (id, comp) like [[connectedComponents]]; isolated vertices
    * (no edges) don't appear, matching the propagation form.
    */
  def connectedComponentsStar(edges: DataFrame, a: Column, b: Column,
                              maxIter: Int = 20): DataFrame =
    starRounds(edges, a, b, maxIter)._1

  /** [[connectedComponentsStar]] plus the number of (large, small)
    * rounds it took — exposed for convergence-bound tests.
    */
  def starRounds(edges: DataFrame, a: Column, b: Column,
                 maxIter: Int = 20): (DataFrame, Int) = {
    val e0 = Rounds.stage("starRounds.edges", edges
      .select(a.cast("long").as("u"), b.cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct(), Rounds.Rows)
    // per-round min tables are node-sized (≤ 2·edges rows) — below
    // the gate (measured at the round's input edge count) they
    // broadcast into the star joins, so a round's only exchanges are
    // its two partial-aggregated groupBys + the distinct, never an
    // edge-table shuffle join
    def largeStar(e: DataFrame, nE: Long): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u").as("mu"))
        .agg(min(col("v")).as("mv"))
        .select(col("mu"), least(col("mu"), col("mv")).as("m"))
      // no distinct here: smallStar's groupBy/distinct dedups right
      // after, and skipping it saves a full shuffle per round
      sym.join(gate(nE)(mins), sym("u") === col("mu"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
    }

    def smallStar(e: DataFrame, nE: Long): DataFrame = {
      val o = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = o.groupBy(col("u").as("mu")).agg(min(col("v")).as("m"))
      o.join(gate(nE)(mins), o("u") === col("mu"))
        .where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("mu").as("u"), col("m").as("v")))
        .where(col("u") =!= col("v"))
        .distinct()
    }

    // a union of stars ⇔ no edge target is also an edge source
    def isStar(e: DataFrame): Boolean =
      e.join(e.select(col("v").as("u")).distinct(), Seq("u"), "left_semi")
        .isEmpty
    val run = Rounds.iterate("starRounds.round", e0, maxIter, Rounds.Rows,
        done = (_, c) => isStar(c.df)) { t =>
      t.stage(smallStar(largeStar(t.last.df, t.last.count), t.last.count))
    }
    val e = run.last.df
    // labels derived from a non-star edge set would emit duplicate ids
    // with conflicting comps — refuse rather than return silently wrong
    // components (star contraction halves depth per round, so any sane
    // budget converges; hitting this means maxIter was set far too low)
    require(run.converged || e.isEmpty,
      s"connectedComponentsStar: not converged after ${run.rounds} " +
        "rounds; raise maxIter")
    val labels = Checkpoints.stage(
      e.select(col("u").as("id"), col("v").as("comp"))
        .union(e.select(col("v").as("id"), col("v").as("comp")))
        .distinct())
    Rounds.free(e)
    (labels, run.rounds)
  }

  /** Cluster-resolved dedup decision over an edge list: every vertex
    * with its cluster id (= min member) and whether it is the canonical
    * survivor. Vertices not in any edge are their own cluster and are
    * trivially kept, so only edge endpoints appear here.
    */
  def dedupClusters(edges: DataFrame, a: Column, b: Column): DataFrame =
    connectedComponents(edges, a, b)
      .select(col("id"), col("comp").as("cluster"),
        (col("id") === col("comp")).as("keep"))

  /** Fixed-point PageRank: authority scores over a directed edge list,
    * for source/domain weighting in corpus curation (a crawl that
    * ranks domains by link authority feeds the quality prior of its
    * sampling weights). `iters` synchronous iterations of
    *
    *   rank'(v) = (scale·(dampDen−dampNum)) div (dampDen·N)
    *            + (dampNum · Σ_{u→v} (rank(u) div outdeg(u))) div dampDen
    *
    * ENTIRELY in scaled-integer arithmetic (ranks are fixed-point
    * longs, `scale` = 1.0): every operation is a BIGINT multiply/add
    * or a floor division of non-negatives, so the result is
    * bit-deterministic, independent of partitioning and summation
    * order — a float PageRank cannot hash-match an oracle, THIS one
    * matches an unrolled-CTE SQL mirror exactly. Dangling mass is not
    * redistributed (the PageRank-lite variant: leaked mass uniformly
    * shrinks ranks without reordering them); floor-truncation loses
    * < 1 ulp of the fixed point per hop, bounded and identical on
    * every engine.
    *
    * Scale shape: each iteration is one shuffle (contribution
    * aggregate on dst) plus the ranks⋈edges join. The join strategy is
    * gated on the MEASURED node count (already in hand for the base
    * term): when it fits [[Regime]] the |V|-sized rank and outdeg
    * tables broadcast, so the |E|-sized edge list never crosses the
    * wire — the domain-authority regime (|V| = #domains ≪ |E|). Above
    * the limit it degrades to shuffle joins, correct at any |V|.
    * Lineage is cut per iteration with [[Checkpoints.stage]], so long
    * runs honor the session's reliable-checkpoint mode like every
    * other iterative operator here.
    */
  def pageRank(edges: DataFrame, src: Column, dst: Column,
               iters: Int = 5, dampNum: Long = 85, dampDen: Long = 100,
               scale: Long = 1000000L,
               start: Option[DataFrame] = None): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "need 0 <= dampNum <= dampDen")
    val e = rankEdges(edges, src, dst)
    // nodes are |V|-sized and re-joined every iteration — stage them
    // once instead of recomputing the aggregate per round.
    val (nodes, n) = Checkpoints.stageCount(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    require(n > 0, "empty graph")
    val base = scale * (dampDen - dampNum) / (dampDen * n)
    // `start` WARM-STARTS the iteration: known ids take their stored
    // rank, unseen (new) ids the uniform prior — power iteration
    // converges from any start vector, a near-fixed-point start just
    // needs fewer rounds (the warm-start contract [[pageRankWarm]]
    // prices). The arithmetic stays bit-deterministic either way.
    val ranks0 = Rounds.stage("pageRank.start", start match {
      case None =>
        nodes.select(col("id"), lit(scale / n).as("rank"))
      case Some(s0) =>
        nodes.join(s0.select(col("id"), col("rank").as("__r0")),
            Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__r0"), lit(scale / n)).as("rank"))
    })
    Rounds.iterate("pageRank.round", ranks0, iters) { t =>
      // contrib is |V|-sized (one row per in-degree-bearing node) —
      // under the gate it broadcasts like every other round state, so
      // the round plan has NO shuffle at all (nodes keeps its staged
      // partitioning; above the gate this degrades to the shuffle
      // join as before)
      t.stage(nodes
        .join(gate(n)(inflow(e, t.last.df, n)), Seq("id"), "left")
        .select(col("id"),
          (lit(base) +
            expr(s"($dampNum * coalesce(inflow, 0L)) DIV $dampDen"))
            .as("rank")))
    }.last.df
  }

  /** [[pageRank]]'s edge table, staged PRE-PARTITIONED on dst
    * (distinct FIRST so the dedup keeps its map-side partial
    * aggregation — the repartition then re-exchanges only the deduped
    * edges, once): every round's inflow aggregate groups by dst over a
    * broadcast-joined scan of it, so the per-round plan has NO
    * exchange at all in the broadcast regime — the checkpoint
    * partitioning is reused round after round (guide §2.4). outdeg
    * rides the staged edge row (a src-partitioned window count over the
    * deduped edges): it is STATIC across rounds, so folding it in
    * removes one |V|-sized broadcast/join from EVERY round — the only
    * per-round state left is the rank vector.
    */
  private def rankEdges(edges: DataFrame, src: Column,
                        dst: Column): DataFrame =
    Checkpoints.stage(
      edges.select(src.as("src"), dst.as("dst"))
        .distinct()
        .withColumn("outdeg", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("src"))))
        .repartition(col("dst")))

  /** One rank round's (id, inflow): every rank split over its
    * out-edges ([[rankEdges]]) and summed per destination.
    */
  private def inflow(e: DataFrame, ranks: DataFrame,
                     n: Long): DataFrame =
    e.join(gate(n)(ranks.withColumnRenamed("id", "src")), Seq("src"))
      .select(col("dst").as("id"), expr("rank DIV outdeg").as("share"))
      .groupBy(col("id"))
      .agg(sum(col("share")).as("inflow"))

  /** PERSONALIZED PageRank (the random-walk-with-restart variant:
    * Jeh & Widom, "Scaling personalized web search", WWW 2003):
    * teleport mass returns to a SEED set instead of the uniform
    * distribution, so ranks measure proximity to the seeds — the
    * trusted-source weighting of corpus curation ("how close is this
    * domain to the vetted allowlist" feeds the sampling prior), where
    * global PageRank measures only popularity.
    *
    * Same scaled-integer arithmetic, broadcast gating, and per-round
    * staging as [[pageRank]] — the ONLY differences are the base term
    * (scale·(1−d)/|S| on seed nodes, 0 elsewhere) and the start vector
    * (uniform over seeds). Bit-deterministic; the x_ppr oracle unrolls
    * the same iterations.
    */
  def pageRankPersonalized(edges: DataFrame, src: Column, dst: Column,
                           seeds: DataFrame, seedId: Column,
                           iters: Int = 5, dampNum: Long = 85,
                           dampDen: Long = 100,
                           scale: Long = 1000000L): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    require(dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "need 0 <= dampNum <= dampDen")
    val e = rankEdges(edges, src, dst)
    val (sd, ns) = Checkpoints.stageCount(
      seeds.select(seedId.as("id")).distinct())
    val (nodes, n) = Checkpoints.stageCount(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id")))
        .union(sd.select(col("id"))).distinct())
    require(ns > 0, "empty seed set")
    val base = scale * (dampDen - dampNum) / (dampDen * ns)
    def seeded(rank: Long): DataFrame = nodes
      .join(gate(n)(sd.withColumn("__s", lit(1))), Seq("id"), "left")
      .select(col("id"),
        when(col("__s").isNotNull, lit(rank)).otherwise(lit(0L))
          .as("__seed_term"))
    val ranks0 = Rounds.stage("ppr.start",
      seeded(scale / ns).select(col("id"),
        col("__seed_term").as("rank")))
    val baseTerms = Checkpoints.stage(seeded(base))
    Rounds.iterate("ppr.round", ranks0, iters) { t =>
      // |V|-sized inflow broadcasts under the gate (see [[pageRank]])
      t.stage(baseTerms
        .join(gate(n)(inflow(e, t.last.df, n)), Seq("id"), "left")
        .select(col("id"),
          (col("__seed_term") +
            expr(s"($dampNum * coalesce(inflow, 0L)) DIV $dampDen"))
            .as("rank")))
    }.last.df
  }

  /** LOCAL personalized PageRank by synchronous FORWARD PUSH
    * (Andersen, Chung & Lang, "Local graph partitioning using
    * PageRank vectors", FOCS 2006 — the lazy-walk push, batched into
    * deterministic synchronous rounds): seed mass diffuses over the
    * UNDIRECTED edge list, each round pushing every active node whose
    * residual clears the degree-scaled threshold
    * (r·epsDen ≥ epsNum·scale·deg).
    *
    * Why this exists next to [[pageRankPersonalized]]: power-iteration
    * PPR touches EVERY node EVERY round — |V|-sized work regardless of
    * how local the answer is. Forward push's work is proportional to
    * the mass actually moved: the state table starts seeds-only and
    * grows exactly by push receivers, so a 10-seed query on a 100 TB
    * graph does frontier-sized joins over the seeds' neighborhoods
    * and never reads the far side. The eps threshold is the work
    * bound — residuals below deg·eps·scale stop pushing (ACL's
    * guarantee: |π(v) − p(v)| ≤ eps·deg(v) at the converged cut);
    * `rounds` caps rounds for a fixed, oracle-unrollable plan.
    *
    * Per push of node v (ALL scaled-integer, floor division —
    * deterministic, partitioning-independent, and mass only ever
    * leaks DOWNWARD, never inflates):
    *   ar = (alphaNum·r) div alphaDen   → p += ar
    *   rem = r − ar; keep = rem div 2 stays (the lazy half)
    *   give = (rem − keep) div deg to EACH neighbor
    * (an isolated pusher keeps the whole remainder). Returns
    * (id, p, r) for every TOUCHED node — p is the unnormalized
    * per-seed-scale mass (multi-seed runs are sums of per-seed
    * vectors; seeds start at r = scale each).
    */
  def pprForwardPush(edges: DataFrame, a: Column, b: Column,
                     seeds: DataFrame, seedId: Column,
                     rounds: Int = 4, alphaNum: Long = 15,
                     alphaDen: Long = 100, epsNum: Long = 1,
                     epsDen: Long = 10000L,
                     scale: Long = 1000000L): DataFrame = {
    require(rounds >= 0 && alphaDen > 0 && alphaNum >= 0 &&
      alphaNum <= alphaDen && epsDen > 0 && epsNum >= 0 && scale > 0,
      "need 0 <= alphaNum <= alphaDen, epsDen > 0, scale > 0")
    val spark = edges.sparkSession
    val e0 = edges.select(a.as("src"), b.as("dst"))
    // pre-partitioned on dst: each round's share aggregate
    // (groupBy dst over broadcast-joined pushers) reuses the
    // checkpoint partitioning instead of re-exchanging per round
    val sym = Checkpoints.stage(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .repartition(col("dst")))
    val deg = Checkpoints.stage(
      sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg")))
    val state0 = Rounds.stage("pprForwardPush.seeds",
      seeds.select(seedId.as("id")).where(col("id").isNotNull)
        .distinct()
        .select(col("id"), lit(0L).as("p"), lit(scale).as("r")),
      Rounds.Rows)
    Rounds.iterate("pprForwardPush.round", state0,
        if (state0.count > 0) rounds else 0, Rounds.Rows,
        done = (_, c) => c.count == 0) { t =>
      val (state, n) = (t.last.df, t.last.count)
      // the degree table narrows to the ACTIVE slice through a
      // broadcast semi join (a scan of the staged deg table, never a
      // |V|-sized shuffle), then joins state at state size
      val degActive = deg.join(gate(n)(state.select(col("id"))),
        Seq("id"), "left_semi")
      val st = state.join(gate(n)(degActive), Seq("id"), "left")
        .select(col("id"), col("p"), col("r"),
          coalesce(col("deg"), lit(0L)).as("deg"))
      val pusher = col("r") > 0 &&
        col("r") * epsDen >= lit(epsNum * scale) * col("deg")
      val ar = expr(s"($alphaNum * r) DIV $alphaDen")
      val rem = col("r") - ar
      val keep = expr(s"(r - ($alphaNum * r) DIV $alphaDen) DIV 2")
      val updated = st.select(col("id"),
        when(pusher, col("p") + ar).otherwise(col("p")).as("p"),
        when(!pusher, col("r"))
          .when(col("deg") === 0, rem)
          .otherwise(keep).as("r"),
        when(pusher && col("deg") > 0,
          expr(s"(r - ($alphaNum * r) DIV $alphaDen" +
            s" - (r - ($alphaNum * r) DIV $alphaDen) DIV 2) DIV deg"))
          .otherwise(lit(0L)).as("give"),
        pusher.as("__push"))
      val shares = gate(n)(updated
          .where(col("__push") && col("give") > 0)
          .select(col("id").as("src"), col("give")))
        .join(sym, Seq("src"))
        .groupBy(col("dst")).agg(sum(col("give")).as("inc"))
        .select(col("dst").as("id"), col("inc"))
      // outer-merge as a partial-aggregated UNION instead of a
      // full_outer sort-merge join: one row per id on each side, so
      // sum() reproduces the coalesce arithmetic exactly — replaces
      // two exchanges + two sorts per round with one exchange and
      // keeps the merge map-side combinable (guide §2.3/§2.4)
      t.stage(
        updated.select(col("id"), col("p"), col("r"))
          .unionAll(shares.select(col("id"), lit(0L).as("p"),
            col("inc").as("r")))
          .groupBy(col("id"))
          .agg(sum(col("p")).as("p"), sum(col("r")).as("r")))
    }.last.df
  }

  /** HITS hubs & authorities (Kleinberg, "Authoritative sources in a
    * hyperlinked environment", JACM 1999) by scaled-integer power
    * iteration with MAX-normalization after each half-step: raw
    * scores divide (floor) by the round's maximum, scaled back to
    * [0, scale]. Max-normalization instead of the classical L2 keeps
    * every operation in exact integer arithmetic — no sqrt, no float
    * accumulation — so the whole iteration is a pure function of the
    * edge SET and unrolls into an exact SQL oracle (the x_pagerank
    * discipline); the normalization choice rescales each round but
    * the iteration still converges toward the principal left/right
    * singular directions of the adjacency, which is what HITS ranks
    * by.
    *
    * Scale: per round, two edge-sized shuffles (inflow/outflow sums
    * with map-side partials), a |V|-sized left join (broadcast-gated
    * on the measured node count), and a 1-row max broadcast — the
    * pageRank shape exactly; per-round state staged and freed.
    * Returns (id, hub, auth).
    */
  def hits(edges: DataFrame, src: Column, dst: Column,
           iters: Int = 5, scale: Long = 1000000L,
           start: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    // pre-partitioned on dst: the auth half-step's inflow aggregate
    // (groupBy dst) reuses the checkpoint partitioning per round; the
    // hub half-step (groupBy src) keeps its exchange — one exchange
    // per round instead of two
    val e = Checkpoints.stage(
      edges.select(src.as("src"), dst.as("dst"))
        .distinct().repartition(col("dst")))
    val (nodes, n) = Checkpoints.stageCount(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    require(n > 0, "empty graph")
    def normalized(raw: DataFrame, out: String): DataFrame = {
      val m = raw.agg(greatest(max(col("raw")), lit(1L)).as("__m"))
      raw.crossJoin(broadcast(m))
        .select(col("id"), expr(s"(raw * ${scale}L) DIV __m").as(out))
    }
    // `start` WARM-STARTS the iteration from a stored hub vector
    // (the [[hitsWarm]] contract): known ids take their stored hub,
    // unseen (new) ids the cold prior `scale` — power iteration
    // converges from any non-zero start, a near-fixed-point start
    // just needs fewer rounds. Only the HUB vector seeds: each round
    // derives auth from hub first, so a stored auth would be
    // overwritten before it was ever read.
    val hub0 = Rounds.stage("hits.start", start match {
      case None => nodes.select(col("id"), lit(scale).as("hub"))
      case Some(s0) =>
        nodes.join(s0.select(col("id"), col("hub").as("__h0")),
            Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__h0"), lit(scale)).as("hub"))
    })
    // one half-step: the `score` of every `via` endpoint summed onto
    // its `to` endpoints. The aggregate is |V|-sized — broadcast under
    // the gate so the round plan keeps zero shuffles (see [[pageRank]])
    def half(prev: DataFrame, score: String, via: String, to: String,
             out: String): DataFrame =
      normalized(nodes.join(
          gate(n)(e.join(gate(n)(prev.withColumnRenamed("id", via)),
              Seq(via))
            .groupBy(col(to)).agg(sum(col(score)).as("__x"))
            .withColumnRenamed(to, "id")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__x"), lit(0L)).as("raw")), out)
    // rounds alternate auth (odd) and hub (even) half-steps; keeping
    // the newest two leaves the final auth and hub staged
    val run = Rounds.iterate("hits.halfRound", hub0, 2L * iters,
        keep = 2) { t =>
      t.stage(
        if (t.index % 2 == 1) half(t.last.df, "hub", "src", "dst", "auth")
        else half(t.last.df, "auth", "dst", "src", "hub"))
    }
    val Seq(auth, hub) = run.kept.map(_.df)
    nodes.join(hub, Seq("id")).join(auth, Seq("id"))
      .select(col("id"), col("hub"), col("auth"))
  }

  /** DETERMINISTIC random-walk corpus generation (the DeepWalk /
    * node2vec data step — Perozzi et al., KDD 2014: walk sequences
    * become skip-gram training text): `walksPerNode` walks of up to
    * `len` steps start at every node; at step t the walk at node v
    * moves to v's sorted-neighbor number
    * `PolyFp("start_walk_t_v") mod outdeg(v)`. No RNG state — the
    * "randomness" is the same engine-portable polynomial fingerprint
    * the deterministic samplers use, so the full walk corpus is a
    * pure function of the edge SET (reproducible across runs,
    * partitionings, and engines — the SQL oracle replays every hop).
    * Dead-end nodes end their walk (shorter sequences, the DeepWalk
    * convention for directed graphs). Returns (start, walk, step,
    * node), step 0 = the start node.
    *
    * Scale: per step, one join against the outdeg table and one
    * (node, idx) equality join against the neighbor index — both
    * broadcast-gated on the measured node count, walk-state-sized
    * shuffles otherwise; the neighbor index builds once (the only
    * per-node window, partitioned by src). Walk state is
    * |V|·walksPerNode rows regardless of step count.
    */
  def randomWalks(edges: DataFrame, src: Column, dst: Column,
                  walksPerNode: Int = 2, len: Int = 4): DataFrame = {
    require(walksPerNode >= 1 && len >= 0, "need walks >= 1, len >= 0")
    val e = Checkpoints.stage(
      edges.select(src.as("src"), dst.as("dst")).distinct())
    val nbr = Checkpoints.stage(e.select(col("src").as("__ns"),
      col("dst").as("__nd"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))) - 1).as("idx")))
    val od = Checkpoints.stage(
      nbr.groupBy(col("__ns")).agg(count(lit(1)).as("deg"))
        .select(col("__ns").as("__ds"), col("deg")))
    val (nodes, n) = Checkpoints.stageCount(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    val walks0 = Rounds.stage("randomWalks.start", nodes
      .select(col("id").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk"))
      .select(col("start"), col("walk"), lit(0).as("step"),
        col("start").as("node")))
    // the corpus is the union of every step, so every step stays staged
    val run = Rounds.iterate("randomWalks.step", walks0, len,
        keep = Rounds.All) { t =>
      val key = concat_ws("_", col("start"), col("walk"), lit(t.index),
        col("node"))
      t.stage(t.last.df
        .join(gate(n)(od), col("node") === col("__ds"))
        .select(col("start"), col("walk"),
          pmod(TextAnalysis.fingerprint(key), col("deg")).as("__i"),
          col("node"))
        .join(gate(n)(nbr),
          col("node") === col("__ns") && col("__i") === col("idx"))
        .select(col("start"), col("walk"), lit(t.index).as("step"),
          col("__nd").as("node")))
    }
    Rounds.union(run.kept)
      .select(col("start"), col("walk"), col("step"), col("node"))
  }

  /** LANDMARK DISTANCE SKETCHES by multi-source BFS (the
    * landmark/pivot method for shortest-path estimation — Potamias et
    * al., "Fast shortest path distance estimation in large networks",
    * CIKM 2009): pick the `landmarks` smallest node ids (a
    * deterministic, documented pivot rule; degree-weighted selection
    * is a caller-side substitution), then run ONE layered BFS for all
    * landmarks simultaneously over the UNDIRECTED graph. Returns
    * (id, lm, dist) for every node within `maxDepth` of each
    * landmark — the sketch that answers dist(u, v) ≲ min_lm
    * d(u,lm) + d(lm,v) without a per-query traversal.
    *
    * Deterministic and oracle-replayable: BFS layers are set-valued
    * (no tie-breaks anywhere), so the result is a pure function of
    * the edge set; the SQL mirror is a depth-bounded recursive CTE
    * folded by min(dist).
    *
    * Scale: per layer, one frontier×edges join (frontier-sized, never
    * |V|·L) and one anti join against the accumulated sketch to keep
    * only first discoveries; the sketch accumulates to ≤ |V|·L rows,
    * layer state staged and freed per round. Early-exits when a layer
    * discovers nothing.
    */
  def landmarkDistances(edges: DataFrame, a: Column, b: Column,
                        landmarks: Int = 4, maxDepth: Int = 6,
                        pivots: Option[DataFrame] = None)
      : DataFrame = {
    require(landmarks >= 1 && maxDepth >= 0,
      "need landmarks >= 1, maxDepth >= 0")
    val e0 = edges.select(a.as("src"), b.as("dst"))
    val sym = Checkpoints.stage(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct())
    val nodes = sym.select(col("src").as("id")).distinct()
    // `pivots` (one `lm` column) FREEZES the landmark set — the
    // incremental path's contract: a store's landmarks are chosen
    // once at bootstrap and batches extend the same sketch, even if
    // later nodes would win the smallest-id rule
    val lms = Checkpoints.stage(pivots match {
      case Some(p) => p.select(col("lm"))
      case None => nodes.orderBy(col("id")).limit(landmarks)
        .select(col("id").as("lm"))
    })
    // BFS layers are kept staged; the sketch is their UNION —
    // re-staging the whole growing sketch per layer would rewrite
    // O(|V|·L) rows `maxDepth` times (and pay a second job per layer
    // for the liveness count, which rides the layer's staging job)
    val l0 = Rounds.stage("landmarkDistances.layer",
      lms.select(col("lm").as("id"), col("lm"), lit(0).as("dist")),
      Rounds.Rows)
    val run = Rounds.iterate("landmarkDistances.layer", l0,
        if (l0.count > 0) maxDepth else 0, Rounds.Rows, keep = Rounds.All,
        done = (_, c) => c.count == 0) { t =>
      t.stage(t.last.df.join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), col("lm"), lit(t.index).as("dist"))
        .distinct()
        .join(Rounds.union(t.kept).select(col("id"), col("lm")),
          Seq("id", "lm"), "left_anti"))
    }
    // an empty last layer ended the search and adds nothing
    if (run.converged) Rounds.free(run.last.df)
    Rounds.union(run.untilDone)
  }

  /** HARMONIC closeness centrality within `maxDepth` hops — the
    * influence ranking of a near-dup/citation graph (which sources
    * sit closest to everything else), in the bounded-radius form that
    * is the only honest one on a sketch: hc(u) = Σ over v ≠ u within
    * `maxDepth` of ⌊scale / d(u,v)⌋, integer floor-division per pair
    * then an integer sum — bit-deterministic, no float accumulation,
    * and the SQL mirror is the same arithmetic over a recursive-CTE
    * BFS. Harmonic (Σ 1/d), not classic (1/Σd): unreachable pairs
    * contribute zero instead of poisoning the sum, so the truncated
    * radius is semantically clean (Boldi & Vigna, "Axioms for
    * centrality", Internet Math 2014).
    *
    * Exact arm = one multi-source BFS with EVERY node as a pivot
    * ([[landmarkDistances]]' loop): per layer one frontier×edges join,
    * sketch ≤ |V|² rows — the licensed small-graph baseline. The
    * SCALE path is [[harmonicClosenessLandmark]]: the Eppstein-Wang
    * estimator over L ≪ |V| pivots (one pass over a maintained
    * landmark sketch, |V|·L rows — the store the streaming gate
    * already keeps). Nodes with no neighbor within range keep a
    * 0-valued row (absence would conflate "isolated" with "absent").
    */
  def harmonicCloseness(edges: DataFrame, a: Column, b: Column,
                        maxDepth: Int = 6,
                        scale: Long = 1000000L): DataFrame = {
    val e0 = edges.select(a.as("src"), b.as("dst"))
    val nodes = Checkpoints.stage(
      e0.select(col("src").as("id"))
        .union(e0.select(col("dst").as("id")))
        .where(col("id").isNotNull)
        .distinct())
    val sketch = landmarkDistances(edges, a, b, maxDepth = maxDepth,
      pivots = Some(nodes.select(col("id").as("lm"))))
    nodes.join(
        sketch.where(col("dist") >= 1)
          .groupBy(col("id"))
          .agg(sum(expr(s"${scale}L div dist")).as("hc")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("hc"), lit(0L)).as("hc"))
  }

  /** The LANDMARK estimator of [[harmonicCloseness]] (Eppstein &
    * Wang, "Fast approximation of centrality", J. Graph Algorithms
    * Appl. 2004, harmonic form): hc_est(u) = Σ over the L frozen
    * pivots of ⌊scale / d(u, lm)⌋ — a single pass over the (id, lm,
    * dist) sketch [[writeLandmarkStore]] maintains, |V|·L rows
    * instead of the exact arm's |V|² BFS. Deterministic pivots
    * (the L smallest node ids, or a store's frozen set) make the
    * estimator itself ORACLE-EXACT — correctness is hash-checked,
    * and only the estimator-vs-exact ranking agreement is a judgment
    * call for the caller. Same 0-row rule for pivot-unreachable
    * nodes.
    */
  def harmonicClosenessLandmark(sketch: DataFrame,
                                allNodes: DataFrame,
                                scale: Long = 1000000L): DataFrame =
    allNodes.select(col(allNodes.columns.head).as("id")).distinct()
      .join(
        sketch.where(col("dist") >= 1)
          .groupBy(col("id"))
          .agg(sum(expr(s"${scale}L div dist")).as("hc_est")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hc_est"), lit(0L)).as("hc_est"))

  // ---------- incremental landmark-distance store ----------

  /** The landmark store: (id, lm) -> dist rows, id-clustered, folded to
    * min(dist) per (id, lm) — distances only shrink under edge
    * insertion.
    */
  private[graft] def landmarkStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "landmarkStore",
      Seq("id" -> "bigint", "lm" -> "bigint"), Seq("dist" -> "int"),
      KeyedStore.MinValue, cluster = Seq("id"))

  /** Persist [[landmarkDistances]]'s sketch as `batch=0` of an
    * incremental store (id-clustered (id, lm, dist, __b) rows on the
    * shared gen=/batch= protocol), the warm base for
    * [[landmarkDistancesIncremental]]. The landmark set is FROZEN
    * here: landmarks are recoverable from the store itself as the
    * dist = 0 rows, so no side artifact is needed.
    */
  def writeLandmarkStore(edges: DataFrame, a: Column, b: Column,
                         landmarks: Int, maxDepth: Int,
                         storeDir: String, filesOut: Int = 4): Unit =
    landmarkStore(storeDir).writeBase(edges.sparkSession,
        "writeLandmarkStore(batch)", filesOut) {
      landmarkDistances(edges, a, b, landmarks, maxDepth)
    }

  /** The landmark store's CURRENT sketch (distances only shrink under
    * edge insertion, so the fold is min(dist) per (id, lm)).
    */
  def landmarkStoreDistances(spark: org.apache.spark.sql.SparkSession,
                             storeDir: String): DataFrame =
    landmarkStore(storeDir).current(spark)

  /** WARM-START landmark sketch maintenance: distances over the UNION
    * graph for the store's FROZEN landmark set, relaxing ONLY from the
    * new edges' endpoints — the incremental-SSSP insertion step
    * (Ramalingam & Reps, "An incremental algorithm for a
    * generalization of the shortest-path problem", J. Algorithms
    * 1996, specialized to unit weights and batched): edge insertion
    * can only SHRINK distances, so the stored sketch is a valid
    * upper bound, and any improved node's shortest union path crosses
    * a new edge — seed candidates d(u)+1 across each new edge in both
    * directions, keep the ones that beat the store, and propagate
    * improvements one hop per round. Sound and complete by induction
    * along the improved path: the first improved vertex on it is a
    * new-edge endpoint (its predecessor is unimproved, so an old
    * predecessor edge would contradict the old BFS), and every later
    * one is reached from the previous improvement.
    *
    * Contract (the monotone gate-store contract everywhere):
    * `allEdges` is any SUPERSET of the union edges within `maxDepth`
    * hops of a new edge — improvements never propagate farther; pass
    * the full union list when reach slicing isn't cheap. `newEdges`
    * is the batch (re-sent edges are harmless: their candidates never
    * beat the store); `batchId` exceeds every prior append; `maxDepth`
    * matches the store's bootstrap. The append holds only IMPROVED
    * (id, lm) rows — frontier-sized, never |V|·L — and retries are
    * overwrite-idempotent (the prior view reads batches < batchId).
    *
    * Returns the full current sketch, ≡ [[landmarkDistances]] over
    * the union with the store's frozen pivots
    * (x_landmark_incremental replays it with the shared depth-bounded
    * recursive-CTE oracle over the union edge list).
    *
    * Scale: per round, one frontier×edges join and one improvement
    * anti-probe of the current sketch — frontier-sized throughout; at
    * most `maxDepth` rounds (a candidate accepted in round r has
    * dist ≥ r+1 ≤ maxDepth), early-exit when a round improves
    * nothing; round state staged and freed ([[Checkpoints]]).
    */
  def landmarkDistancesIncremental(
      allEdges: DataFrame, a: Column, b: Column,
      newEdges: DataFrame, na: Column, nb: Column,
      storeDir: String, batchId: Long, maxDepth: Int = 6,
      filesOut: Int = 4)
      : DataFrame = {
    require(maxDepth >= 0, "maxDepth must be >= 0")
    val spark = allEdges.sparkSession
    val store = landmarkStore(storeDir)
    store.appending(spark, batchId, "landmarkDistancesIncremental") {
    val stored = Checkpoints.stage(store.view(spark, batchId))
    val e0 = allEdges.select(a.as("src"), b.as("dst"))
    val sym = Checkpoints.stage(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct())
    val en0 = newEdges.select(na.as("src"), nb.as("dst"))
    val enSym = en0
      .union(en0.select(col("dst").as("src"), col("src").as("dst")))
      .where(col("src") =!= col("dst"))
      .distinct()
    // improvements that beat the CURRENT sketch (missing = infinity).
    // The current best for a candidate key is min(stored, improvements
    // so far), and both are probed as LOOKUPS from the frontier-sized
    // candidate set: the once-staged store keeps its (id, lm)
    // checkpoint partitioning (only the tiny candidate side exchanges)
    // and the improvement layers are frontier-sized — the r16 form
    // re-min-folded stored ∪ all layers INSIDE every round's join,
    // a |sketch|-sized scan + aggregate per round that this removes
    // (one observed staging job per round is kept; the liveness count
    // still rides it).
    // `improved`: the improvement layers so far (every one kept staged)
    def improving(improved: Seq[Rounds.Round],
                  cand: DataFrame): DataFrame = {
      val candAgg = cand.where(col("dist") <= maxDepth)
        .groupBy(col("id"), col("lm"))
        .agg(min(col("dist")).as("dist"))
      val withSt = candAgg.join(
        stored.select(col("id"), col("lm"), col("dist").as("__st")),
        Seq("id", "lm"), "left")
      val withImp =
        if (improved.isEmpty)
          // dist is int end to end (the store schema pins it)
          withSt.withColumn("__imp", lit(null).cast("int"))
        else {
          val impMin = Rounds.union(improved)
            .groupBy(col("id"), col("lm"))
            .agg(min(col("dist")).as("__imp"))
          withSt.join(
            gate(improved.map(_.count).sum)(impMin),
            Seq("id", "lm"), "left")
        }
      // least() skips nulls, so missing-on-both-sides = infinity
      withImp
        .where(least(col("__st"), col("__imp")).isNull ||
          col("dist") < least(col("__st"), col("__imp")))
        .select(col("id"), col("lm"), col("dist"))
    }
    val f0 = Rounds.stage("landmarkIncremental.round", improving(Nil,
      enSym.join(stored.select(col("id").as("src"), col("lm"),
          col("dist")), Seq("src"))
        .select(col("dst").as("id"), col("lm"),
          (col("dist") + 1).as("dist"))), Rounds.Rows)
    val run = Rounds.iterate("landmarkIncremental.round", f0,
        if (f0.count > 0) maxDepth else 0, Rounds.Rows, keep = Rounds.All,
        done = (_, c) => c.count == 0) { t =>
      // frontier-sized probe side broadcasts under the gate, so the
      // staged edge table is never shuffled per round (guide §3.1)
      val fSized = gate(t.last.count)(t.last.df)
      t.stage(improving(t.kept,
        fSized.join(sym, col("id") === col("src"))
          .select(col("dst").as("id"), col("lm"),
            (col("dist") + 1).as("dist"))))
    }
    // the non-empty layers (an empty one improved nothing)
    val improved = run.kept.filter(_.count > 0).map(_.df)
    val sketch = (stored +: improved).reduce(_ unionAll _)
      .groupBy(col("id"), col("lm"))
      .agg(min(col("dist")).as("dist"))
    // delta append: only improved keys, min-folded across rounds
    // (a later round can re-improve a key); empty batches still
    // commit a visible empty dir (retry-idempotent)
    val delta =
      if (improved.isEmpty) f0.df
      else Checkpoints.stage(improved.reduce(_ unionAll _)
        .groupBy(col("id"), col("lm"))
        .agg(min(col("dist")).as("dist")))
    store.append(spark, "landmarkDistancesIncremental(batch)", batchId,
      filesOut)(delta)
    // an empty layer (the one that ended the search) improved nothing
    Rounds.free(run.kept.filter(_.count == 0).map(_.df): _*)
    // sketch is staged, so its data predates the overwrite safely
    sketch
  }}

  /** Fold the landmark store's batches (min dist per (id, lm); __b =
    * the first batch that achieved it) into one generation.
    */
  def compactLandmarkStore(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    landmarkStore(storeDir).compact(spark, "compactLandmarkStore(batch)",
      filesOut)

  /** RETRACTION for the landmark store — [[rebuildCCStore]]'s
    * posture, distance-valued: edge (or node) deletion can only
    * GROW shortest distances, which
    * [[landmarkDistancesIncremental]]'s monotone-relaxation argument
    * cannot absorb (it rests on insertions only shrinking — the
    * stored sketch stops being a valid upper bound the moment an
    * edge on a shortest path disappears), so the honest form is a
    * REBUILD of the BFS sketch over the surviving edge list, written
    * as a SUPERSEDING `gen=<head+1>`: the min-fold view flips
    * atomically (old, smaller distances can never leak into a fold
    * with the new generation), vanished nodes drop, and later
    * incremental batches continue above the generation
    * (monotone-guarded in [[landmarkDistancesIncremental]]).
    *
    * The landmark set stays FROZEN through the retraction — pivots
    * are recovered from the store's own dist = 0 rows, minus any
    * pivot in `deletedNodes` (a retracted pivot's whole BFS tree
    * disappears with it; the sketch continues with the survivors,
    * the documented cost of deleting a pivot). A surviving pivot
    * that lost every edge keeps its dist = 0 self-row — same
    * node-universe rule as the recursive-CTE oracle.
    */
  def rebuildLandmarkStore(survivingEdges: DataFrame, a: Column,
                           b: Column, storeDir: String,
                           deletedNodes: Option[DataFrame] = None,
                           maxDepth: Int = 6, filesOut: Int = 4)
      : Long = {
    val spark = survivingEdges.sparkSession
    landmarkStore(storeDir).supersede(spark, "rebuildLandmarkStore(batch)",
        filesOut) {
      val storedLms = landmarkStoreDistances(spark, storeDir)
        .where(col("dist") === 0)
        .select(col("lm"))
      val pivots = deletedNodes match {
        case Some(del) => storedLms.join(
          del.select(col(del.columns.head).as("lm")), Seq("lm"),
          "left_anti")
        case None => storedLms
      }
      landmarkDistances(survivingEdges, a, b, maxDepth = maxDepth,
        pivots = Some(pivots))
    }
  }

  /** NODE2VEC biased walks (Grover & Leskovec, KDD 2016): like
    * [[randomWalks]] but the hop distribution at step t ≥ 2 is tilted
    * by where the walk CAME from — candidate c leaving node v with
    * predecessor u weighs
    *
    *   wReturn   if c = u            (the 1/p return bias)
    *   wCommon   if edge u→c exists  (distance-1: stay local)
    *   wExplore  otherwise           (the 1/q exploration bias)
    *
    * with INTEGER weights (the paper's 1/p, 1, 1/q scaled by a common
    * denominator — exact arithmetic, no float sampling): candidates
    * sort by the neighbor index, the draw is
    * `PolyFp("start_walk_t_u_v") mod Σw`, and the candidate whose
    * exclusive cumulative-weight range contains the draw wins. Step 1
    * has no predecessor and draws uniformly (all weights 1, the
    * DeepWalk rule). Zero RNG state — the corpus is a pure function
    * of the edge SET and the three weights, so the SQL oracle replays
    * every biased hop. Directed adaptation: "distance 1" means the
    * directed edge u→c exists. Returns (start, walk, step, node) —
    * the [[skipGramPairs]]-composable schema.
    *
    * Scale: per step, one neighbor-index join (walk-local fanout ≤
    * outdeg), one LEFT probe of the distinct edge set for the u→c
    * flag, and one WALK-LOCAL window (partitioned by the walk state —
    * bounded by outdeg, never data-wide) computing the cumulative
    * ranges. Walk state carries (node, prev) only.
    */
  def node2vecWalks(edges: DataFrame, src: Column, dst: Column,
                    walksPerNode: Int = 2, len: Int = 4,
                    wReturn: Long = 1L, wCommon: Long = 4L,
                    wExplore: Long = 2L): DataFrame = {
    require(walksPerNode >= 1 && len >= 0, "need walks >= 1, len >= 0")
    require(wReturn >= 1 && wCommon >= 1 && wExplore >= 1,
      "weights must be >= 1")
    val e = Checkpoints.stage(
      edges.select(src.as("src"), dst.as("dst")).distinct())
    val nbr = Checkpoints.stage(e.select(col("src").as("__ns"),
      col("dst").as("__nd"),
      (row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("src")).orderBy(col("dst"))) - 1).as("idx")))
    val (nodes, n) = Checkpoints.stageCount(
      e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct())
    val prevEdge = e.select(col("src").as("__pu"),
      col("dst").as("__pc"), lit(true).as("__adj"))
    // walk state: (start, walk, step, prev, node); prev = -1 at step 0
    val walks0 = Rounds.stage("node2vecWalks.start", nodes
      .select(col("id").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk"))
      .select(col("start"), col("walk"), lit(0).as("step"),
        lit(-1L).as("prev"), col("start").as("node")))
    val wKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("start"), col("walk"), col("prev"), col("node"))
    // the corpus is the union of every step, so every step stays staged
    val run = Rounds.iterate("node2vecWalks.step", walks0, len,
        keep = Rounds.All) { t =>
      val cands = t.last.df
        .join(gate(n)(nbr), col("node") === col("__ns"))
        .select(col("start"), col("walk"), col("prev"), col("node"),
          col("__nd").as("cand"), col("idx"))
      val weighted = (
          if (t.index == 1)
            cands.withColumn("__w", lit(1L))
          else
            cands.join(gate(n)(prevEdge),
                col("prev") === col("__pu") &&
                  col("cand") === col("__pc"), "left")
              .withColumn("__w",
                when(col("cand") === col("prev"), lit(wReturn))
                  .when(col("__adj"), lit(wCommon))
                  .otherwise(lit(wExplore)))
        )
        .withColumn("__cum",
          coalesce(sum(col("__w")).over(
            wKey.orderBy(col("idx"))
              .rowsBetween(org.apache.spark.sql.expressions.Window
                .unboundedPreceding, -1)), lit(0L)))
        .withColumn("__tot", sum(col("__w")).over(wKey))
      val key = concat_ws("_", col("start"), col("walk"), lit(t.index),
        col("prev"), col("node"))
      t.stage(weighted
        .withColumn("__draw",
          pmod(TextAnalysis.fingerprint(key), col("__tot")))
        .where(col("__draw") >= col("__cum") &&
          col("__draw") < col("__cum") + col("__w"))
        .select(col("start"), col("walk"), lit(t.index).as("step"),
          col("node").as("prev"), col("cand").as("node")))
    }
    run.kept.map(_.df.select(col("start"), col("walk"), col("step"),
        col("node"))).reduce(_.unionAll(_))
      .select(col("start"), col("walk"), col("step"), col("node"))
  }

  /** SKIP-GRAM pair counts from a [[randomWalks]] corpus — the
    * trainable artifact of the DeepWalk pipeline: for every walk,
    * every ordered (center, context) node pair within `window` steps
    * of each other, aggregated to co-occurrence counts (what a
    * skip-gram/NCE trainer or an implicit-matrix factorization
    * consumes). Window pairing is a self-equality-join on the walk
    * key — co-partitioned, walk-local fan-out ≤ 2·window per row,
    * never a data-sized window function; counts aggregate map-side.
    */
  def skipGramPairs(walks: DataFrame, window: Int = 2): DataFrame = {
    val a = walks.select(col("start").as("__s"), col("walk").as("__w"),
      col("step").as("__ta"), col("node").as("center"))
    val b = walks.select(col("start").as("__s2"),
      col("walk").as("__w2"), col("step").as("__tb"),
      col("node").as("context"))
    a.join(b, col("__s") === col("__s2") && col("__w") === col("__w2")
        && col("__ta") =!= col("__tb")
        && abs(col("__ta") - col("__tb")) <= window)
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** DETERMINISTIC NEGATIVE SAMPLING for a skip-gram pair corpus —
    * the third artifact of the word2vec/DeepWalk data pipeline
    * (Mikolov et al., NeurIPS 2013: each positive (center, context)
    * pair trains against k sampled non-context nodes): negative j of
    * a pair is the node whose rank in the id-ordered node list equals
    * `PolyFp("center_context_j") mod |V|` — no RNG state, the same
    * engine-portable fingerprint the walk generator uses, so the
    * sample set is a pure function of the pair SET and the oracle
    * replays every draw. Draws that collide with the pair's own
    * center or context are DROPPED (not resampled — resampling would
    * chain data-dependent rounds; the uniform-draw collision mass is
    * ≤ 2/|V| per draw and the drop is itself deterministic), so each
    * pair yields ≤ k negatives. Returns (center, context, j, neg).
    *
    * Scale: the node index is the distributed prefix-sum rank (never
    * a global window); draws explode k-wide off the pair list and
    * resolve through one rank-equality join (broadcast-gated on the
    * measured node count). Uniform sampling, not degree^0.75 — the
    * unigram tilt needs float pow, which is not engine-portable; a
    * caller wanting it can weight downstream.
    */
  def negativeSamples(pairs: DataFrame, center: Column,
                      context: Column, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val p = Checkpoints.stage(
      pairs.select(center.as("center"), context.as("context")))
    val nodes = p.select(col("center").as("id"))
      .union(p.select(col("context").as("id"))).distinct()
    val (idx, n) = Checkpoints.stageCount(Training.withPrefixSum(
      nodes, Seq(col("id")), lit(1L), "__idx"))
    p.select(col("center"), col("context"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .withColumn("__draw",
        pmod(TextAnalysis.fingerprint(concat_ws("_", col("center"),
          col("context"), col("j"))), lit(n)))
      .join(gate(n)(idx.select(col("__idx"), col("id").as("neg"))),
        col("__draw") === col("__idx"))
      .where(col("neg") =!= col("center") &&
        col("neg") =!= col("context"))
      .select(col("center"), col("context"), col("j"), col("neg"))
  }

  // ---------- warm-start PageRank ----------

  /** The PageRank store: id -> rank, newest batch wins. */
  private[graft] def pageRankStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "pageRankStore", Seq("id" -> "bigint"),
      Seq("rank" -> "bigint"), KeyedStore.NewestWins)

  /** Persist [[pageRank]]'s converged ranks as `batch=0` of an
    * incremental store (id-clustered (id, rank, __b) rows — the
    * label-store protocol), the warm-start base for
    * [[pageRankWarm]].
    */
  def writePageRankStore(edges: DataFrame, src: Column, dst: Column,
                         iters: Int, storeDir: String,
                         filesOut: Int = 4, dampNum: Long = 85,
                         dampDen: Long = 100, scale: Long = 1000000L): Unit =
    pageRankStore(storeDir).writeBase(edges.sparkSession,
        "writePageRankStore(batch)", filesOut) {
      pageRank(edges, src, dst, iters, dampNum, dampDen, scale)
    }

  /** RETRACTION for the PageRank store — the value-iteration twist
    * on [[rebuildCCStore]]'s posture: a warm restart from the stored
    * ranks would CONVERGE over the surviving graph, but the seed
    * still carries the deleted edges' influence (it decays
    * geometrically, never to exactly zero in finite rounds), which
    * fails the right-to-be-forgotten bar every other retraction here
    * meets exactly — so the honest form is a COLD recompute over the
    * surviving edge list, written as a superseding `gen=<head+1>`
    * (atomic view flip; vanished nodes drop; later [[pageRankWarm]]
    * batches continue above the generation, monotone-guarded).
    */
  def rebuildPageRankStore(survivingEdges: DataFrame, src: Column,
                           dst: Column, iters: Int, storeDir: String,
                           filesOut: Int = 4, dampNum: Long = 85,
                           dampDen: Long = 100, scale: Long = 1000000L): Long =
    pageRankStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildPageRankStore(batch)", filesOut) {
      pageRank(survivingEdges, src, dst, iters, dampNum, dampDen, scale)
    }

  /** The PageRank store's CURRENT ranks (newest batch wins per id). */
  def pageRankStoreRanks(spark: org.apache.spark.sql.SparkSession,
                         storeDir: String): DataFrame =
    pageRankStore(storeDir).current(spark)

  /** WARM-START PageRank over an EVOLVED graph: power iteration on
    * the union edge list initialized from the STORED ranks (new nodes
    * take the uniform prior), run for `rounds` < a cold run's iters.
    *
    * What the warm start buys — and what it cannot: rank mass
    * redistributes globally (the teleport base shifts with |V|, every
    * inflow sum spans the graph), so PER-ROUND work is inherently
    * graph-sized; no frontier slicing is sound (why rounds 9 and 10
    * EXCLUDED an incremental PageRank rather than fake one). What IS
    * sound is round-count: from a near-fixed-point start the residual
    * contracts by the damping factor per round, so a handful of warm
    * rounds replaces a cold run's full ladder — the standard
    * restart treatment for evolving graphs (Langville & Meyer, "Deep
    * Inside PageRank", updating chapter). The arithmetic is the same
    * bit-deterministic scaled-integer iteration, a pure function of
    * (store contents, union graph, rounds) — so the driver's oracle
    * can unroll history's iterations AND the warm rounds in SQL and
    * hash-match exactly; approximation quality vs a longer cold run
    * is pinned separately in GraphSpec.
    *
    * Survivor ranks append as an overwrite-idempotent `batch=<id>`
    * (newest-wins store; retries read only batches < batchId).
    */
  def pageRankWarm(allEdges: DataFrame, src: Column, dst: Column,
                   storeDir: String, batchId: Long, rounds: Int = 2,
                   filesOut: Int = 4, dampNum: Long = 85,
                   dampDen: Long = 100, scale: Long = 1000000L): DataFrame = {
    val spark = allEdges.sparkSession
    val store = pageRankStore(storeDir)
    store.appending(spark, batchId, "pageRankWarm") {
      val ranks = Checkpoints.stage(
        pageRank(allEdges, src, dst, rounds, dampNum, dampDen, scale,
          start = Some(store.view(spark, batchId))))
      store.append(spark, "pageRankWarm(batch)", batchId, filesOut)(ranks)
      // ranks is staged, so its data predates the overwrite safely
      ranks
    }
  }

  /** Fold the PageRank store's batches, newest winning per id. */
  def compactPageRankStore(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    pageRankStore(storeDir).compact(spark, "compactPageRankStore(batch)",
      filesOut)

  // ---------- warm-start HITS ----------

  /** The HITS store: id -> (hub, auth), newest batch wins. */
  private[graft] def hitsStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "hitsStore", Seq("id" -> "bigint"),
      Seq("hub" -> "bigint", "auth" -> "bigint"), KeyedStore.NewestWins)

  /** Persist [[hits]]'s converged hub/auth vectors as `batch=0` of an
    * incremental store (id-clustered (id, hub, auth, __b) rows — the
    * PageRank-store protocol), the warm-start base for [[hitsWarm]].
    */
  def writeHitsStore(edges: DataFrame, src: Column, dst: Column,
                     iters: Int, storeDir: String, filesOut: Int = 4,
                     scale: Long = 1000000L): Unit =
    hitsStore(storeDir).writeBase(edges.sparkSession,
        "writeHitsStore(batch)", filesOut) {
      hits(edges, src, dst, iters, scale)
    }

  /** RETRACTION for the HITS store — [[rebuildPageRankStore]]'s
    * posture and argument verbatim (a warm hub seed carries the
    * deleted edges' influence forever): cold recompute over the
    * surviving edges as a superseding generation.
    */
  def rebuildHitsStore(survivingEdges: DataFrame, src: Column,
                       dst: Column, iters: Int, storeDir: String,
                       filesOut: Int = 4, scale: Long = 1000000L): Long =
    hitsStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildHitsStore(batch)", filesOut) {
      hits(survivingEdges, src, dst, iters, scale)
    }

  /** The HITS store's CURRENT scores (newest batch wins per id). */
  def hitsStoreScores(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String): DataFrame =
    hitsStore(storeDir).current(spark)

  /** WARM-START HITS over an EVOLVED graph: power iteration on the
    * union edge list initialized from the STORED hub vector (new
    * nodes take the cold prior), run for `rounds` < a cold run's
    * iters — the same round-count contract as [[pageRankWarm]], and
    * for the same reason: each half-step's inflow/outflow sums span
    * the whole graph (max-normalization is global), so per-round work
    * is inherently graph-sized and the only sound saving is fewer
    * rounds from a near-fixed-point start. Only the hub vector seeds
    * the iteration (auth is re-derived from hub in the first
    * half-step, so a stored auth would never be read). The arithmetic
    * is the same bit-deterministic scaled-integer iteration, a pure
    * function of (store contents, union graph, rounds) — the driver's
    * oracle unrolls history's iterations AND the warm rounds in SQL
    * and hash-matches exactly.
    *
    * Survivor scores append as an overwrite-idempotent `batch=<id>`
    * (newest-wins store; retries read only batches < batchId).
    */
  def hitsWarm(allEdges: DataFrame, src: Column, dst: Column,
               storeDir: String, batchId: Long, rounds: Int = 2,
               filesOut: Int = 4, scale: Long = 1000000L): DataFrame = {
    val spark = allEdges.sparkSession
    val store = hitsStore(storeDir)
    store.appending(spark, batchId, "hitsWarm") {
      val scores = Checkpoints.stage(
        hits(allEdges, src, dst, rounds, scale,
          start = Some(store.view(spark, batchId))))
      store.append(spark, "hitsWarm(batch)", batchId, filesOut)(scores)
      // scores is staged, so its data predates the overwrite safely
      scores
    }
  }

  /** Fold the HITS store's batches, newest winning per id. */
  def compactHitsStore(spark: org.apache.spark.sql.SparkSession,
                       storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    hitsStore(storeDir).compact(spark, "compactHitsStore(batch)", filesOut)

  /** DETERMINISTIC one-level Louvain (the modularity-gain label
    * update of Blondel et al., "Fast unfolding of communities in
    * large networks", J. Stat. Mech. 2008 — the community-detection
    * counterpart of label propagation, which optimizes nothing):
    * every node starts in its own community; each SYNCHRONOUS round,
    * every node moves to the candidate community (its neighbors'
    * communities plus its own) maximizing the modularity gain
    *
    *   score(i → C) = 2m·w(i,C) − d(i)·(D(C) − [i ∈ C]·d(i))
    *
    * — the standard ΔQ numerator scaled by (2m)² so the comparison is
    * EXACT integer arithmetic (computed in decimal(38,0): with
    * trillion-edge graphs 2m·w ≈ 10²⁴, past int64 but far inside 38
    * digits). Ties break (score DESC, community ASC), so the whole
    * run is a pure function of the weighted edge SET — the oracle
    * unrolls every round in SQL and hash-matches. Synchronous update
    * is what makes the rounds engine-replayable; the classic
    * sequential sweep is order-dependent and would pin the result to
    * one partitioning. The known trade: on exactly-symmetric
    * structures synchronous moves can swap instead of settle (the
    * parallel-LPA oscillation), so `rounds` is a budget, not a
    * convergence promise — on modular graphs the asymmetric pulls
    * settle fast (GraphSpec pins the bridged-cliques partition in 3
    * rounds). Input edges are folded to a canonical
    * undirected weighted graph (least/greatest endpoints, self-loops
    * dropped, weights summed); `weight` defaults to 1 per input row.
    * Returns (id, community) after `rounds` rounds.
    *
    * Scale: per round — one |C|-sized community-degree aggregate, one
    * edge-sized neighbor-community sum, one candidate argmax
    * aggregate (all map-side-partial; the |V|-sized label table
    * broadcast-gated on the measured node count by [[Regime]]); no
    * windows, state staged and freed per round. Multi-level Louvain
    * composes this with [[contractGraph]]: run a level, contract
    * communities to super-nodes — internal mass becomes SELF-LOOPS
    * (counted twice into the super-node's degree, the Blondel et al.
    * convention, so 2m is invariant under contraction) — and run the
    * next level on the quotient graph. Self-loops never enter w(i,C)
    * (a node is not its own neighbor; its self mass moves with it, a
    * constant across candidates), only the degree.
    */
  def louvain(edges: DataFrame, a: Column, b: Column,
              rounds: Int = 3, weight: Option[Column] = None,
              start: Option[DataFrame] = None): DataFrame =
    louvainRounds(edges, a, b, rounds, weight, start)._1

  /** [[louvain]] plus the number of rounds actually executed — the
    * early-exit observability hook the convergence spec pins
    * (`earlyExit = false` replays the fixed-round behavior for the
    * bit-identical A/B).
    */
  private[graft] def louvainRounds(
      edges: DataFrame, a: Column, b: Column,
      rounds: Int = 3, weight: Option[Column] = None,
      start: Option[DataFrame] = None,
      earlyExit: Boolean = true): (DataFrame, Int) = {
    require(rounds >= 1, "rounds must be >= 1")
    val w0 = weight.getOrElse(lit(1L)).cast("long")
    val eAll = Checkpoints.stage(
      edges.select(least(a, b).as("u"), greatest(a, b).as("v"),
          w0.as("w"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w")))
    val e = eAll.where(col("u") =!= col("v"))
    val sym = e.unionAll(
      e.select(col("v").as("u"), col("u").as("v"), col("w")))
    // weighted degree: neighbor mass + TWICE the self-loop mass
    val deg = Checkpoints.stage(
      sym.select(col("u"), col("w"))
        .unionAll(eAll.where(col("u") === col("v"))
          .select(col("u"), (col("w") * 2).as("w")))
        .groupBy(col("u")).agg(sum(col("w")).as("d"))
        .select(col("u").as("id"), col("d")))
    // node count + total weighted degree in ONE job over the staged
    // degree table
    val nm = deg.agg(count(lit(1)), sum(col("d"))).head
    val n = nm.getLong(0)
    require(n > 0, "empty graph")
    val m2 = nm.getLong(1)
    val dec = "decimal(38,0)"
    // `start` WARM-STARTS the rounds from a stored assignment (the
    // [[louvainWarm]] contract): known ids keep their stored
    // community, unseen (new) ids start as singletons — the gain
    // arithmetic is valid from ANY assignment, a near-converged start
    // just needs fewer rounds.
    val comm0 = Rounds.stage("louvain.start", start match {
      case None => deg.select(col("id"), col("id").as("c"))
      case Some(s0) =>
        deg.select(col("id"))
          .join(s0.select(col("id"), col("c").as("__c0")),
            Seq("id"), "left")
          .select(col("id"),
            coalesce(col("__c0"), col("id")).as("c"))
    })
    // CONVERGENCE EARLY-EXIT (the CC equal-sums pattern at a stronger
    // invariant): zero movers means the next round sees the identical
    // assignment, recomputes the identical scores, and picks the
    // identical argmax — a fixed point, so skipping the remaining
    // rounds is bit-identical and saves one full edge-scale shuffle
    // per skipped round. The mover count is observed on the staging
    // job — no per-round probe job.
    val movers = coalesce(sum(
      when(col("m.pick") =!= col("__cur"), 1L).otherwise(0L)), lit(0L))
    val run = Rounds.iterate("louvain.round", comm0, rounds,
        Rounds.Of(movers), done = (_, c) => earlyExit && c.count == 0L) { t =>
      val comm = t.last.df
      // community weighted-degree sums (|C|-sized)
      val dc = comm.join(gate(n)(deg), Seq("id"))
        .groupBy(col("c")).agg(sum(col("d")).as("dc"))
        .select(col("c").as("cand"), col("dc"))
      // w(i, C): weight from each node into each neighbor community
      val wic = sym
        .join(gate(n)(comm.select(col("id").as("v"), col("c").as("cand"))),
          Seq("v"))
        .groupBy(col("u"), col("cand")).agg(sum(col("w")).as("wi"))
        .select(col("u").as("id"), col("cand"), col("wi"))
      // the node's own community is always a candidate (w = 0 when it
      // has no intra-community edges — the "staying" score)
      val own = comm.select(col("id"), col("c").as("cand"))
        .join(wic.select(col("id"), col("cand")), Seq("id", "cand"),
          "left_anti")
        .select(col("id"), col("cand"), lit(0L).as("wi"))
      val scored = wic.unionAll(own)
        .join(gate(n)(deg), Seq("id"))
        .join(gate(n)(dc), Seq("cand"))
        .join(gate(n)(comm.select(col("id"), col("c").as("__cur"))),
          Seq("id"))
        .select(col("id"), col("cand"), col("__cur"),
          (lit(m2).cast(dec) * col("wi").cast(dec) -
            col("d").cast(dec) *
              (col("dc").cast(dec) -
                when(col("__cur") === col("cand"), col("d"))
                  .otherwise(lit(0L)).cast(dec))).as("score"))
      t.stage(scored
        .groupBy(col("id"))
        .agg(max(struct(col("score"), (-col("cand")).as("nc"),
          col("cand").as("pick"))).as("m"),
          // every cand row of an id carries the same __cur, so max
          // is exact — it rides the argmax aggregate for the mover
          // count
          max(col("__cur")).as("__cur")),
        col("id"), col("m.pick").as("c"))
    }
    (run.last.df.select(col("id"), col("c").as("community")), run.rounds)
  }

  /** EXACT modularity decomposition of a community assignment
    * (Newman & Girvan's Q, the quantity [[louvain]] climbs): per
    * community C,
    *
    *   Q_C = in_C/(2m) − (D_C/(2m))²,  Q = Σ_C Q_C
    *
    * reported as the EXACT integer numerator q_num = 2m·in_C − D_C²
    * (Q_C = q_num/(2m)²; decimal(38,0), same bounds argument as the
    * gain arithmetic) alongside in_C (= Σ_{i,j∈C} A_ij: twice the
    * intra-community weight, self-loops counted twice — the Blondel
    * convention matching [[louvain]]'s degrees) and D_C. Exact
    * integers end to end, so the oracle replays it; callers wanting
    * the float Q divide once at the end. The audit pairing for
    * community detection: detect with [[louvain]], QUANTIFY the
    * partition with this — e.g. compare level-1 vs level-2 cuts, or
    * track drift of a stored partition as the graph evolves.
    *
    * Scale: one canonical weight fold, two assignment joins, three
    * aggregates — all map-side-partial, |C|-sized outputs, no
    * windows.
    */
  def modularity(edges: DataFrame, a: Column, b: Column,
                 assign: DataFrame, id: Column, community: Column,
                 weight: Option[Column] = None): DataFrame = {
    val w0 = weight.getOrElse(lit(1L)).cast("long")
    // staged: the folded edge table feeds the intra aggregate AND all
    // three degree branches — without the cut, the raw edge
    // derivation would replay once per branch
    val eAll = Checkpoints.stage(
      edges.select(least(a, b).as("u"), greatest(a, b).as("v"),
          w0.as("w"))
        .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w")))
    val asg = assign.select(id.as("__id"), community.as("__c"))
    val eC = eAll
      .join(asg.select(col("__id").as("u"), col("__c").as("cu")),
        Seq("u"))
      .join(asg.select(col("__id").as("v"), col("__c").as("cv")),
        Seq("v"))
    val intra = eC.where(col("cu") === col("cv"))
      .groupBy(col("cu")).agg((sum(col("w")) * 2).as("in_w2"))
      .select(col("cu").as("community"), col("in_w2"))
    val e = eAll.where(col("u") =!= col("v"))
    val deg = e.select(col("u").as("id"), col("w"))
      .unionAll(e.select(col("v").as("id"), col("w")))
      .unionAll(eAll.where(col("u") === col("v"))
        .select(col("u").as("id"), (col("w") * 2).as("w")))
      .groupBy(col("id")).agg(sum(col("w")).as("d"))
    val m2 = deg.agg(sum(col("d"))).head.getLong(0)
    val dec = "decimal(38,0)"
    deg.join(asg, col("id") === col("__id"))
      .groupBy(col("__c")).agg(sum(col("d")).as("deg_sum"))
      .select(col("__c").as("community"), col("deg_sum"))
      .join(intra, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("in_w2"), lit(0L)).as("in_w2"), col("deg_sum"),
        (lit(m2).cast(dec) *
            coalesce(col("in_w2"), lit(0L)).cast(dec) -
          col("deg_sum").cast(dec) * col("deg_sum").cast(dec))
          .as("q_num"))
  }

  // ---------- warm-start Louvain ----------

  /** The Louvain store: id -> community c, newest batch wins. */
  private[graft] def louvainStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "louvainStore", Seq("id" -> "bigint"),
      Seq("c" -> "bigint"), KeyedStore.NewestWins)

  /** Persist [[louvain]]'s assignment as `batch=0` of an incremental
    * store (id-clustered (id, c, __b) rows — the PageRank-store
    * protocol), the warm-start base for [[louvainWarm]].
    */
  def writeLouvainStore(edges: DataFrame, a: Column, b: Column,
                        rounds: Int, storeDir: String,
                        filesOut: Int = 4,
                        weight: Option[Column] = None): Unit =
    louvainStore(storeDir).writeBase(edges.sparkSession,
        "writeLouvainStore(batch)", filesOut) {
      louvain(edges, a, b, rounds, weight)
        .withColumnRenamed("community", "c")
    }

  /** RETRACTION for the Louvain store — [[rebuildPageRankStore]]'s
    * posture and argument (a warm assignment seed remembers the
    * deleted edges' merges; deletion can also SPLIT a community,
    * which gain rounds never undo — they only move nodes toward
    * positive gain over the seed): cold recompute over the surviving
    * edges as a superseding generation.
    */
  def rebuildLouvainStore(survivingEdges: DataFrame, a: Column,
                          b: Column, rounds: Int, storeDir: String,
                          filesOut: Int = 4,
                          weight: Option[Column] = None): Long =
    louvainStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildLouvainStore(batch)", filesOut) {
      louvain(survivingEdges, a, b, rounds, weight)
        .withColumnRenamed("community", "c")
    }

  /** The Louvain store's CURRENT assignment (newest batch wins). */
  def louvainStoreCommunities(
      spark: org.apache.spark.sql.SparkSession, storeDir: String)
      : DataFrame =
    louvainStore(storeDir).current(spark)

  /** WARM-START Louvain over an EVOLVED graph: gain rounds on the
    * union edge list initialized from the STORED assignment (new
    * nodes start as singletons), run for `rounds` < a cold run's
    * budget — the same round-count contract as [[pageRankWarm]] /
    * [[hitsWarm]], for the same reason: every round's community-
    * degree sums and 2m span the whole graph, so per-round work is
    * inherently graph-sized and the sound saving is fewer rounds from
    * a near-converged start. Bit-deterministic, a pure function of
    * (store contents, union weighted graph, rounds) — the driver's
    * oracle unrolls history's rounds AND the warm rounds in SQL and
    * hash-matches. The assignment appends as an overwrite-idempotent
    * `batch=<id>` (newest-wins; retries read only batches < batchId).
    */
  def louvainWarm(allEdges: DataFrame, a: Column, b: Column,
                  storeDir: String, batchId: Long, rounds: Int = 1,
                  filesOut: Int = 4,
                  weight: Option[Column] = None): DataFrame = {
    val spark = allEdges.sparkSession
    val store = louvainStore(storeDir)
    store.appending(spark, batchId, "louvainWarm") {
      val asg = Checkpoints.stage(
        louvain(allEdges, a, b, rounds, weight,
          start = Some(store.view(spark, batchId))))
      store.append(spark, "louvainWarm(batch)", batchId, filesOut)(
        asg.withColumnRenamed("community", "c"))
      // asg is staged, so its data predates the overwrite safely
      asg
    }
  }

  /** Fold the Louvain store's batches, newest winning per id. */
  def compactLouvainStore(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    louvainStore(storeDir).compact(spark, "compactLouvainStore(batch)",
      filesOut)

  /** Contract a weighted undirected graph by a community assignment:
    * edges fold to their endpoint communities (canonical order,
    * weights summed) — Louvain's level-2 quotient graph. Intra-
    * community edges become SELF-LOOPS (cu = cv), which [[louvain]]
    * counts twice into the super-node's degree per the Blondel et al.
    * convention — so 2m is invariant under contraction and the
    * level-2 modularity arithmetic is exactly the level-1 arithmetic
    * on the quotient. Input self-loops fold through like any edge.
    */
  def contractGraph(edges: DataFrame, a: Column, b: Column,
                    assign: DataFrame, id: Column, community: Column,
                    weight: Option[Column] = None): DataFrame = {
    val w0 = weight.getOrElse(lit(1L)).cast("long")
    val e = edges.select(least(a, b).as("u"), greatest(a, b).as("v"),
        w0.as("w"))
      .groupBy(col("u"), col("v")).agg(sum(col("w")).as("w"))
    val asg = assign.select(id.as("__id"), community.as("__c"))
    e.join(asg.select(col("__id").as("u"), col("__c").as("cu")),
        Seq("u"))
      .join(asg.select(col("__id").as("v"), col("__c").as("cv")),
        Seq("v"))
      .select(least(col("cu"), col("cv")).as("cu"),
        greatest(col("cu"), col("cv")).as("cv"), col("w"))
      .groupBy(col("cu"), col("cv")).agg(sum(col("w")).as("w"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani CMU-CALD-02-107;
    * the synchronous variant of Raghavan et al. 2007's LPA): spread
    * seed labels over an undirected edge list for `iters` rounds. The
    * corpus-curation use: a few documents carry a trusted label
    * (language, domain, license) and the near-dup / shared-passage
    * graph extends it to the rest — mirror sites inherit their seed's
    * label without any per-doc classifier.
    *
    * Per round, every NON-seed node adopts the label carried by the
    * most labeled neighbors; a node with no labeled neighbor keeps its
    * current label (initially null). Seeds never change. Unlike
    * classic LPA's random tie-break, ties are resolved to the MAXIMUM
    * label (after max count) — the whole fixpoint is a pure function
    * of the graph, independent of partitioning, so an unrolled-CTE SQL
    * mirror hash-matches it (the x_label_prop oracle).
    *
    * Scale shape: one map-side-combined (node, label) count shuffle
    * per round — the argmax over (count, label) folds into the SAME
    * aggregation via max(struct) — plus the |V|-sized label join,
    * broadcast when the measured node count fits [[Regime]] (the
    * pageRank gate). Lineage cut per round via [[Checkpoints.stage]].
    *
    * `seeds`: (id, label) with non-null labels; ids absent from the
    * edge list still appear in the output (isolated seeds). A node
    * seeded more than once keeps the MAXIMUM label — the same
    * direction as the neighbor-vote tie-break, so the duplicate-seed
    * contract and the propagation tie policy agree. Label type is any
    * orderable Spark type; node ids are key-type-generic.
    */
  def labelPropagation(edges: DataFrame, a: Column, b: Column,
                       seeds: DataFrame, seedId: Column, seedLabel: Column,
                       iters: Int = 3): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    labelRounds(edges, a, b, seeds, seedId, seedLabel, iters, keep = 1)
      .last.df.select(col("id"), col("label"))
  }

  /** The [[labelPropagation]] loop: round 0 is the seed labeling,
    * round r the (id, label, __fixed) state after r votes, the newest
    * `keep` rounds left staged.
    */
  private def labelRounds(edges: DataFrame, a: Column, b: Column,
                          seeds: DataFrame, seedId: Column,
                          seedLabel: Column, iters: Int,
                          keep: Int): Rounds.Run = {
    val e0 = edges.select(a.as("src"), b.as("dst"))
    // pre-partitioned on dst: BOTH per-round vote aggregates
    // (groupBy (dst,label) then groupBy dst) are satisfied by the
    // checkpoint's hash(dst) partitioning, so in the broadcast regime
    // a round's vote path runs with ZERO exchanges (guide §2.4)
    val sym = Checkpoints.stage(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .repartition(col("dst")))
    val sd = Checkpoints.stage(
      seeds.select(seedId.as("id"), seedLabel.as("__seed"))
        .where(col("__seed").isNotNull)
        .groupBy(col("id")).agg(max(col("__seed")).as("__seed")))
    val (nodes, n) = Checkpoints.stageCount(
      sym.select(col("src").as("id"))
        .union(sym.select(col("dst").as("id")))
        .union(sd.select(col("id")))
        .distinct())
    val labels0 = Rounds.stage("labelPropagation.start",
      nodes.join(gate(n)(sd), Seq("id"), "left")
        .select(col("id"), col("__seed").as("label"),
          col("__seed").isNotNull.as("__fixed")))
    Rounds.iterate("labelPropagation.round", labels0, iters,
        keep = keep) { t =>
      val labels = t.last.df
      // (dst, label) neighbor counts and their argmax in ONE shuffle:
      // max(struct(cnt, label)) = max count, then max label on ties.
      val best = sym
        .join(gate(n)(labels.where(col("label").isNotNull)
          .select(col("id").as("src"), col("label").as("__l"))),
          Seq("src"))
        .groupBy(col("dst"), col("__l"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("__c"), col("__l"))).as("__b"))
        .select(col("dst").as("id"), col("__b.__l").as("__nl"))
      t.stage(labels
        .join(gate(n)(best), Seq("id"), "left")
        .select(col("id"),
          when(col("__fixed"), col("label"))
            .otherwise(coalesce(col("__nl"), col("label"))).as("label"),
          col("__fixed")))
    }
  }

  // ---------- warm-start incremental label propagation ----------

  /** The label store: every round's (__round, id) -> label state,
    * newest batch wins per (round, id) — batch ids are unique per
    * (round, id), so the label field never decides. Its view merges ALL
    * rounds in one aggregate (callers stage it and filter per round —
    * three per-round aggregates over a mostly-history store cost more
    * than the whole frontier recompute). No manifest: reads are
    * round-sliced, never key-probed. The label type follows the corpus.
    */
  private[graft] def labelStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "labelStore",
      Seq("__round" -> "int", "id" -> "bigint"), Seq("label" -> "*"),
      KeyedStore.NewestWins, manifest = false)

  /** Run [[labelPropagation]] and persist EVERY round's (id, label)
    * state — not just the final one — as `batch=0` of a label store.
    * The per-round states are what make warm-starting EXACT: a node
    * clean at round r needs its old round-r label (the final state is
    * not enough, since a node can turn dirty mid-run and its
    * neighbors' mid-run labels then matter). Store rows are
    * (__round, id, label, __b), round-then-id clustered so a round's
    * read is a contiguous footer-pruned slice. Single pass: ONE
    * propagation run captures every round's staged state on the way
    * to the fixpoint (k rounds total, not k²).
    */
  def writeLabelState(edges: DataFrame, a: Column, b: Column,
                      seeds: DataFrame, seedId: Column, seedLabel: Column,
                      iters: Int, storeDir: String,
                      filesOut: Int = 4): Unit =
    labelStore(storeDir).writeBase(edges.sparkSession,
        "writeLabelState(batch)", filesOut) {
      labelStateRoundSlices(edges, a, b, seeds, seedId, seedLabel, iters)
    }

  /** RETRACTION for the label-propagation state store — the
    * fixed-round vote history cannot subtract a deleted node's votes
    * (a vote it won in round r cascades through every later round),
    * so the store REBUILDS the full k-round state over the surviving
    * edges and seeds, written as a superseding `gen=<head+1>` that
    * hides every earlier round slice atomically. Pass the seed set
    * with retracted nodes REMOVED (a deleted node's seed label is
    * itself forgotten data); later [[labelPropagationIncremental]]
    * batches continue above the generation (monotone-guarded).
    */
  def rebuildLabelState(survivingEdges: DataFrame, a: Column,
                        b: Column, survivingSeeds: DataFrame,
                        seedId: Column, seedLabel: Column, iters: Int,
                        storeDir: String, filesOut: Int = 4): Long =
    labelStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildLabelState(batch)", filesOut) {
      labelStateRoundSlices(survivingEdges, a, b, survivingSeeds,
        seedId, seedLabel, iters)
    }

  // every round of the [[labelPropagation]] run as (__round, id, label)
  // slices, rounds 1..iters
  private def labelStateRoundSlices(
      edges: DataFrame, a: Column, b: Column, seeds: DataFrame,
      seedId: Column, seedLabel: Column, iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    labelRounds(edges, a, b, seeds, seedId, seedLabel, iters,
        keep = Rounds.All)
      .kept.tail
      .map(r => r.df.select(lit(r.index).as("__round"), col("id"),
        col("label")))
      .reduce(_ unionByName _)
  }

  /** WARM-START label propagation: the k-round result over the UNION
    * graph (old edges + `newEdges`), recomputing ONLY the frontier —
    * per round r, the dirty set is the nodes within r hops of a new
    * edge, and only their votes are re-aggregated; every other node's
    * round-r label is read from the persisted store
    * ([[writeLabelState]]). EXACTLY ≡ the from-scratch fixed-round run
    * (x_label_prop_incremental shares x_label_prop's unrolled-CTE
    * oracle), by induction: a node outside dirty_r has an unchanged
    * edge set and only clean round-(r-1) neighbors, so its stored
    * round-r label is the union-graph value; a dirty node's vote reads
    * neighbors' round-(r-1) labels from the store overridden by the
    * recomputed dirty slice.
    *
    * Contract: `allEdges` is any SUPERSET of the union edges with an
    * endpoint within `iters` hops of a new edge — the dirty closure
    * never expands past that radius and clean nodes' votes are never
    * recomputed, so farther edges can never matter; pass the full
    * union list (the accumulated candidate feed the dedup stores
    * already maintain) when reach slicing isn't cheap, or just the
    * batch itself when new edges land on otherwise-untouched nodes
    * (per-user chains, new-source ingests). `newEdges` is the batch's
    * additions; the seed set is FIXED across runs for existing
    * nodes (new nodes may arrive seeded — they are dirty from round 1).
    * `batchId` must exceed every previously appended batch. The store
    * append is overwrite-idempotent (`batch=<id>` dirs; the state view
    * reads only batches < batchId, so a retry never sees its own prior
    * attempt) and holds only the frontier slices, not |V| rows per
    * batch.
    *
    * Scale shape per round: one frontier-expansion semi join, one vote
    * shuffle bounded by edges INTO the frontier (not the full edge
    * list), one |V|-row-narrow state-view aggregate (id-clustered
    * store; [[compactLabelState]] folds delta batches). Frontier sets
    * and slices are staged per round ([[Checkpoints]]).
    */
  def labelPropagationIncremental(allEdges: DataFrame, a: Column, b: Column,
                                  newEdges: DataFrame, na: Column, nb: Column,
                                  seeds: DataFrame, seedId: Column,
                                  seedLabel: Column, iters: Int,
                                  storeDir: String, batchId: Long)
      : DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val spark = allEdges.sparkSession
    val store = labelStore(storeDir)
    store.appending(spark, batchId, "labelPropagationIncremental") {
    val e0 = allEdges.select(a.as("src"), b.as("dst"))
    // pre-partitioned on dst for the exchange-free vote aggregates,
    // as in [[labelPropagation]]
    val sym = Checkpoints.stage(
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
        .repartition(col("dst")))
    val en = newEdges.select(na.as("src"), nb.as("dst"))
    val (sd, nSd) = Checkpoints.stageCount(
      seeds.select(seedId.as("id"), seedLabel.as("__seed"))
        .where(col("__seed").isNotNull)
        .groupBy(col("id")).agg(max(col("__seed")).as("__seed")))
    // dirty_1: endpoints of the new edges (new nodes arrive only here)
    var dirty = Rounds.stage("labelPropagationIncremental.dirty",
      en.select(col("src").as("id"))
        .union(en.select(col("dst").as("id")))
        .distinct(), Rounds.Rows)
    // the persisted state, merged ONCE for all rounds and staged —
    // every per-round read below is a filter on this
    val state = Checkpoints.stage(store.view(spark, batchId))
    // round r stages dirty_r (r > 1) and the slice of dirty_r's round-r
    // labels; round 0 has no slice — its labels are the seed labels,
    // no store read needed
    val run = Rounds.iterate("labelPropagationIncremental.slice",
        Rounds.seed(), iters, keep = Rounds.All) { t =>
      val r = t.index
      // full round-(r-1) labels where votes need them: store state
      // overridden by the recomputed dirty_{r-1} slice (round 1 votes
      // read seed labels directly)
      val prevLabels =
        if (r == 1) sd.select(col("id"), col("__seed").as("label"))
        else state.where(col("__round") === (r - 1))
          .select(col("id"), col("label"))
          .join(gate(dirty.count)(dirty.df.select(col("id"))),
            Seq("id"), "left_anti")
          .unionByName(t.last.df)
      // frontier for THIS round: last round's dirty set plus its
      // neighbors (their votes read a changed label); the superseded
      // set is freed once this round is staged
      val dirtyNow =
        if (r == 1) dirty
        else {
          t.scratch(dirty.df)
          Rounds.stage("labelPropagationIncremental.dirty",
            sym.join(gate(dirty.count)(
                dirty.df.select(col("id").as("src"))), Seq("src"), "left_semi")
              .select(col("dst").as("id"))
              .union(dirty.df.select(col("id")))
              .distinct(), Rounds.Rows)
        }
      val nNow = dirtyNow.count
      // votes only for dirty nodes: edge scan pruned to edges INTO the
      // frontier, labels joined on the source side
      val votes = sym
        .join(gate(nNow)(
            dirtyNow.df.select(col("id").as("dst"))), Seq("dst"), "left_semi")
        .join(prevLabels.where(col("label").isNotNull)
          .select(col("id").as("src"), col("label").as("__l")),
          Seq("src"))
        .groupBy(col("dst"), col("__l"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("__c"), col("__l"))).as("__bst"))
        .select(col("dst").as("id"), col("__bst.__l").as("__nl"))
      // current (round r-1) labels of the dirty nodes themselves
      val cur =
        if (r == 1)
          dirty.df.join(gate(nSd)(sd), Seq("id"), "left")
            .select(col("id"), col("__seed").as("__cur"))
        else dirtyNow.df
          .join(prevLabels.select(col("id"), col("label").as("__cur")),
            Seq("id"), "left")
          .select(col("id"), col("__cur"))
      dirty = dirtyNow
      t.stage(cur
        .join(gate(nNow)(votes), Seq("id"), "left")
        .join(gate(nNow)(sd), Seq("id"), "left")
        .select(col("id"),
          when(col("__seed").isNotNull, col("__seed"))
            .otherwise(coalesce(col("__nl"), col("__cur")))
            .as("label")))
    }
    val slices = run.kept.tail
    // persist the frontier slices (overwrite-idempotent batch append —
    // frontier-sized, never |V|-sized); the state view reads only
    // batches < batchId, so the result below is retry-stable
    store.append(spark, "labelPropagationIncremental(batch)", batchId, 1)(
      slices.map(s => s.df.select(lit(s.index).as("__round"), col("id"),
        col("label"))).reduce(_ unionByName _))
    // written: only the final slice is read again
    Rounds.free(slices.init.map(_.df): _*)
    // final view off the STAGED state (materialized before the write,
    // so a retry's overwrite cannot invalidate its file listing)
    state.where(col("__round") === iters)
      .select(col("id"), col("label"))
      .join(gate(dirty.count)(dirty.df.select(col("id"))),
        Seq("id"), "left_anti")
      .unionByName(run.last.df.select(col("id"), col("label")))
  }}

  /** The label store's CURRENT (id, label) state at `round` (rounds
    * are 1-based; pass the run's `iters` for the final labels) — the
    * committed view folded newest-wins per (round, id); the read the
    * streaming gate's consumers (and specs) use between micro-batches.
    */
  def labelStoreLabels(spark: org.apache.spark.sql.SparkSession,
                       storeDir: String, round: Int): DataFrame =
    labelStore(storeDir).current(spark)
      .where(col("__round") === round)
      .select(col("id"), col("label"))

  /** Fold the label store's delta batches into one round-clustered
    * generation, newest batch winning per (round, id) — the OPTIMIZE
    * cycle every incremental store here carries.
    */
  def compactLabelState(spark: org.apache.spark.sql.SparkSession,
                        storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    labelStore(storeDir).compact(spark, "compactLabelState(batch)",
      filesOut)

  /** Per-node triangle counts over an undirected edge list — the local
    * clustering signal of a near-dup graph: a candidate edge whose
    * endpoints close many triangles sits inside a dense duplicate
    * clique (safe to collapse); an edge closing none is the lone
    * bridge a transitive dedup policy should distrust.
    *
    * Algorithm: degree orientation (Suri & Vassilvitskii, "Counting
    * triangles and the curse of the last reducer", WWW 2011) — orient
    * each edge from its (degree, id)-smaller endpoint, making a DAG
    * whose max out-degree is O(√m); wedges form only on out-neighbor
    * pairs, so the wedge fanout — the quadratic step that kills the
    * naive per-node algorithm on a high-degree hub — is bounded by
    * orientation, not by the hub's true degree. Each triangle is
    * counted exactly once (at its orientation apex) and credited to
    * all three corners.
    *
    * Scale shape: one degree aggregate (|V|-sized, broadcast-gated
    * on the measured node count by [[Regime]]), one wedge self-join on
    * the oriented apex, one closing semi-equality join against the
    * oriented edge set, one corner-credit aggregate. Deterministic:
    * pure counting, no tie-breaks.
    *
    * Returns (id, n_tri) for every node of the edge list (0-triangle
    * nodes included — their absence would make "no triangles" and
    * "not in the graph" indistinguishable to the caller).
    */
  def triangleCounts(edges: DataFrame, a: Column, b: Column): DataFrame = {
    val e0 = edges.select(a.as("u"), b.as("v"))
    // undirected canonical edges, self-loops dropped
    val e = Checkpoints.stage(
      e0.select(least(col("u"), col("v")).as("u"),
          greatest(col("u"), col("v")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    val deg = e.select(col("u").as("id"))
      .unionAll(e.select(col("v").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("d"))
    val (degS, n) = Checkpoints.stageCount(deg)
    // orient from the (degree, id)-smaller endpoint
    val oriented = Checkpoints.stage(e
      .join(gate(n)(degS.select(col("id").as("u"), col("d").as("du"))),
        Seq("u"))
      .join(gate(n)(degS.select(col("id").as("v"), col("d").as("dv"))),
        Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("s"), col("v").as("t")))
          .otherwise(struct(col("v").as("s"), col("u").as("t")))
          .as("o"))
      .select(col("o.s").as("s"), col("o.t").as("t")))
    // wedges at the apex s: out-neighbor pairs, canonically ordered so
    // the closing edge lookup is orientation-free (the closer (x, y)
    // is oriented by degree, not by id — probe it canonically)
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("apex"),
        col("e1.t").as("x"), col("e2.t").as("y"))
    val closing = oriented
      .select(least(col("s"), col("t")).as("x"),
        greatest(col("s"), col("t")).as("y"))
    // corner credits in ONE pass over the closing join: each confirmed
    // triangle explodes into its three corners feeding a map-side-
    // combined count. Never materialize the triangle list — on clique-
    // heavy graphs it is Θ(Σ C(m,3)) rows, and staging it (the r9
    // shape) held gigabytes of checkpoint blocks whose GC churn was
    // HALF the operator's runtime (measured: 25s GC of 52s total at
    // sf0.1; zero shuffle spill — the cost was block storage, not the
    // join).
    val corners = wedges
      .join(closing.hint("shuffle_hash"), Seq("x", "y"))
      .select(explode(array(col("apex"), col("x"), col("y"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
    degS.select(col("id"))
      .join(corners, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
  }

  // ---------- incremental triangle counts ----------

  /** The triangle store: id -> n_tri, newest batch wins, with the
    * sibling footer manifest so warm-start batches open only
    * touched-id files.
    */
  private[graft] def triangleStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "triangleStore", Seq("id" -> "bigint"),
      Seq("n_tri" -> "bigint"), KeyedStore.NewestWins)

  /** Persist [[triangleCounts]]' per-node totals as `batch=0` of an
    * incremental store (id-clustered (id, n_tri, __b) rows — the
    * label-store protocol), plus its sibling footer manifest so
    * warm-start batches open only touched-id files.
    */
  def writeTriangleStore(edges: DataFrame, a: Column, b: Column,
                         storeDir: String, filesOut: Int = 4): Unit =
    triangleStore(storeDir).writeBase(edges.sparkSession,
        "writeTriangleStore(batch)", filesOut) {
      triangleCounts(edges, a, b)
    }

  /** The triangle store's CURRENT per-node totals (newest committed
    * batch wins per id); the read the streaming gate's consumers (and
    * specs) use between micro-batches.
    */
  def triangleStoreCounts(spark: org.apache.spark.sql.SparkSession,
                          storeDir: String): DataFrame =
    triangleStore(storeDir).current(spark)

  /** Snapshot read of the triangle store as of batch `asOf` — same
    * contract and retention trade as [[ccStoreLabelsAsOf]].
    */
  def triangleStoreCountsAsOf(spark: org.apache.spark.sql.SparkSession,
                              storeDir: String, asOf: Long): DataFrame =
    triangleStore(storeDir).asOf(spark, asOf)

  /** WARM-START triangle counting: per-node totals over the UNION
    * graph, counting ONLY the triangles a new edge creates — old
    * triangles are never re-enumerated (the one-sided law of every
    * incremental path here; the per-insertion common-neighbor delta
    * is the classic dynamic-graph step — Eppstein & Spiro, "The
    * h-index of a graph and its application to dynamic subgraph
    * statistics", WADS 2009 — batched here with canonical
    * attribution so a whole edge batch lands in one pass). A union-graph triangle containing ≥ 1 new
    * edge is counted EXACTLY once, at its canonically-smallest new
    * edge: for new edge (u, v), common neighbors w qualify iff each of
    * the other two edges is old, or new AND canonically greater than
    * (u, v) — so multi-new-edge triangles never double-count. Work is
    * Σ over new edges of deg(u) + deg(v) common-neighbor candidates,
    * never the old wedge volume.
    *
    * Contract (the monotone gate-store contract everywhere):
    * `allEdges` is any SUPERSET of the union edges incident to the
    * batch's endpoints, drawn from the union graph — a triangle
    * containing a new edge (u, v) consists of edges incident to u or
    * v, so edges touching neither endpoint can never matter; pass the
    * full union list when incident slicing isn't cheap, or just the
    * batch itself when new edges land on otherwise-untouched nodes
    * (per-user chains, new-source ingests). `newEdges` is the batch's
    * GENUINELY new edges (an edge re-sent from history would re-count
    * its triangles — upstream exact-dedup owns that, as with doc ids
    * in the BM25 index); `batchId` exceeds every prior append. The
    * store append holds only touched nodes (new-edge endpoints and
    * credited corners); retries are overwrite-idempotent because the
    * prior view reads only batches < batchId.
    *
    * Returns (id, n_tri) for every node of the union edge list,
    * ≡ [[triangleCounts]] over the union (x_triangles_incremental
    * shares x_triangles' canonical 3-way-join oracle).
    */
  def triangleCountsIncremental(allEdges: DataFrame, a: Column, b: Column,
                                newEdges: DataFrame, na: Column,
                                nb: Column, storeDir: String,
                                batchId: Long)
      : DataFrame = {
    val spark = allEdges.sparkSession
    val store = triangleStore(storeDir)
    store.appending(spark, batchId, "triangleCountsIncremental") {
    def canon(df: DataFrame, x: Column, y: Column): DataFrame =
      df.select(least(x, y).as("u"), greatest(x, y).as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    val (n, nCnt) = Checkpoints.stageCount(canon(newEdges, na, nb))
    // same DataFrame reference for both args = "every incident edge
    // is new" (fresh chains, new-source ingests) — skip re-deriving
    // and re-staging the identical edge set
    val all =
      if (allEdges eq newEdges) n
      else Checkpoints.stage(canon(allEdges, a, b))
    val old = all.join(n, Seq("u", "v"), "left_anti")
    val tagged = old.withColumn("__new", lit(false))
      .unionByName(n.withColumn("__new", lit(true)))
    // adjacency rows carrying the edge's canonical pair + new flag
    val adjRows = tagged.select(col("u").as("p"), col("v").as("w"),
        struct(col("u"), col("v")).as("ce"), col("__new"))
      .unionByName(tagged.select(col("v").as("p"), col("u").as("w"),
        struct(col("u"), col("v")).as("ce"), col("__new")))
    val canonUV = struct(col("u"), col("v"))
    // the new-edge side rides the measured broadcast gate — the
    // common-neighbor expansion then never shuffles the adjacency
    val newTris = adjRows
      .select(col("p").as("u"), col("w"),
        col("ce").as("eu"), col("__new").as("nu"))
      .join(gate(nCnt)(n), Seq("u"))
      .where(col("w") =!= col("v") && col("w") =!= col("u"))
      .join(adjRows.select(col("p").as("v"), col("w"),
        col("ce").as("ev"), col("__new").as("nv")), Seq("v", "w"))
      .where((!col("nu") || col("eu") > canonUV) &&
        (!col("nv") || col("ev") > canonUV))
    val credits = Checkpoints.stage(newTris
      .select(explode(array(col("u"), col("v"), col("w"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("__d")))
    val touched = Checkpoints.stage(
      n.select(col("u").as("id"))
        .union(n.select(col("v").as("id")))
        .union(credits.select(col("id")))
        .distinct())
    // prior totals only for touched nodes: the store scan OPENS only
    // the files the touched id set can live in (footer manifest over
    // the id-clustered layout — a batch touching 0.1% of nodes reads
    // ~0.1% of the store, not all of it), then row-filters on a
    // broadcast-gated semi join; the merge is a touched-sized join —
    // never a |V|-sized side. Newest-wins is exact over the pruned
    // set: pruning keeps EVERY file a probed id can live in, so every
    // one of its rows survives
    val prior = store.foldRows(store.pruned(spark, "id", touched),
      batchId)
    val priorTouched = prior.join(gate(nCnt)(touched), Seq("id"), "left_semi")
    val slice = Checkpoints.stage(touched
      .join(priorTouched, Seq("id"), "left")
      .join(credits, Seq("id"), "left")
      .select(col("id"),
        (coalesce(col("n_tri"), lit(0L)) + coalesce(col("__d"), lit(0L)))
          .as("n_tri")))
    store.append(spark, "triangleCountsIncremental(batch)", batchId, 1)(
      slice)
    // the returned view is REBUILT after the write: a retry's
    // overwrite of batch=<id> invalidates any file listing captured
    // before it (slice itself is staged, so its data predates the
    // overwrite safely)
    store.view(spark, batchId)
      .join(gate(nCnt)(touched), Seq("id"), "left_anti")
      .unionByName(slice)
  }}

  /** RETRACTION for the triangle store — [[rebuildCCStore]]'s posture
    * on the count form: deletion DECREASES per-node triangle counts,
    * which the create-only incremental form cannot absorb, so the
    * honest path is a from-scratch recount over the surviving edges
    * written as a SUPERSEDING `gen=<head+1>` (atomic view flip;
    * vanished nodes drop; later incremental batches continue above
    * the generation).
    */
  def rebuildTriangleStore(survivingEdges: DataFrame, a: Column,
                           b: Column, storeDir: String,
                           filesOut: Int = 4): Long =
    triangleStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildTriangleStore(batch)", filesOut) {
      triangleCounts(survivingEdges, a, b)
    }

  /** Fold the triangle store's delta batches, newest batch winning per
    * id — the OPTIMIZE cycle every incremental store here carries.
    */
  def compactTriangleStore(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    triangleStore(storeDir).compact(spark, "compactTriangleStore(batch)",
      filesOut)

  /** [[connectedComponents]] for ARBITRARY key types (URLs, source
    * names, entity strings): endpoints are densely re-labeled through
    * [[Training.encodeCategorical]]'s sorted-vocabulary codes, the
    * long-keyed CC machinery runs unchanged, and components decode
    * back — the canonical member is the LEXICOGRAPHICALLY smallest id
    * of each component (sorted codes make code-min ≡ value-min), so a
    * recursive-CTE oracle over the raw strings matches exactly.
    * Collision-free by construction where hashing string ids to longs
    * could not be. Returns (id, comp) in the original key type.
    */
  def connectedComponentsGeneric(edges: DataFrame, a: Column,
                                 b: Column)
      : DataFrame = {
    val e = Checkpoints.stage(
      edges.select(a.as("ga"), b.as("gb")).distinct())
    val (vocab, nVocab) = Checkpoints.stageCount(
      e.select(col("ga").as("__cat"))
        .union(e.select(col("gb").as("__cat")))
        .where(col("__cat").isNotNull).distinct())
    val coded = Checkpoints.stage(
      Training.withPrefixSum(vocab, Seq(col("__cat")), lit(1L),
        "__code"))
    val side = gate(nVocab)(coded)
    val codedEdges = e
      .join(side.select(col("__cat").as("ga"),
        col("__code").as("ca")), Seq("ga"))
      .join(side.select(col("__cat").as("gb"),
        col("__code").as("cb")), Seq("gb"))
      .select(col("ca"), col("cb"))
    connectedComponents(codedEdges, col("ca"), col("cb"))
      .join(side.select(col("__code").as("id"),
        col("__cat").as("__id_v")), Seq("id"))
      .join(side.select(col("__code").as("comp"),
        col("__cat").as("__comp_v")), Seq("comp"))
      .select(col("__id_v").as("id"), col("__comp_v").as("comp"))
  }

  /** The k-core of an undirected graph (Seidman, "Network structure
    * and minimum degree", Social Networks 1983): the maximal subgraph
    * where every node keeps degree ≥ k — computed by synchronous
    * peeling (drop all under-degree nodes, recount, repeat to the
    * fixpoint). On a near-dup graph the k-core is the dense duplicate
    * COMMUNITY: template farms and mirror families survive peeling;
    * chains and lone bridge edges — the pairs a transitive policy
    * should distrust — do not. The fixpoint is unique (the k-core is
    * the union of all subgraphs with min degree ≥ k), so the result is
    * independent of peeling order and an unrolled-CTE oracle that runs
    * AT LEAST the convergence rounds matches exactly — extra rounds
    * are identity.
    *
    * Scale shape: per round, two semi joins restrict edges to
    * surviving nodes (the |V|-sized survivor set broadcast when its
    * measured count fits [[Regime]]) and one map-side-combined degree
    * count; rounds are bounded by `maxRounds` with an early exit on
    * the measured survivor count, and lineage is cut per round
    * ([[Checkpoints.stage]]). Synchronous peeling converges in at most
    * the graph's degeneracy-peeling depth; dedup graphs (dense cores,
    * shallow chains) converge in a few rounds.
    *
    * Returns the surviving nodes: (id).
    */
  def kCore(edges: DataFrame, a: Column, b: Column, k: Int,
            maxRounds: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "maxRounds must be >= 1")
    val e = Checkpoints.stage(
      edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    val nodes0 = Rounds.stage("kCore.nodes",
      e.select(col("u").as("id")).union(e.select(col("v").as("id")))
        .distinct(), Rounds.Rows)
    // converged when a round peels nothing (or nothing is left)
    Rounds.iterate("kCore.round", nodes0,
        if (nodes0.count > 0) maxRounds else 0, Rounds.Rows,
        done = (p, c) => c.count == p.count || c.count == 0) { t =>
      val (nodes, n) = (t.last.df, t.last.count)
      val live = e
        .join(gate(n)(nodes.select(col("id").as("u"))), Seq("u"),
          "left_semi")
        .join(gate(n)(nodes.select(col("id").as("v"))), Seq("v"),
          "left_semi")
      t.stage(live.select(col("u").as("id"))
        .unionAll(live.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k)
        .select(col("id")))
    }.last.df
  }

  // ---------- strongly connected components ----------

  /** STRONGLY connected components of a DIRECTED graph by iterated
    * forward-backward coloring (Fleischer, Hendrickson & Pınar, "On
    * identifying strongly connected components in parallel", IPDPS
    * 2000, in the label-propagation form Pregel-style systems use —
    * Slota, Rajamanickam & Madduri, IPDPS 2014). Each OUTER round over
    * the remaining subgraph:
    *
    *   1. FORWARD color: f(v) = min id that reaches v (including v),
    *      a min-label fixpoint along edge direction;
    *   2. BACKWARD reach within each color class: a node v with an
    *      all-class path v →* f(v) reaches its pivot, and the pivot
    *      reaches v by f's definition — mutual reachability, so
    *      {v : f(v) = c, v →*₍f=c₎ c} is EXACTLY SCC(c);
    *   3. every non-empty color retires its pivot's SCC (labeled by
    *      the pivot = the SCC's min member id); survivors re-color.
    *
    * Deterministic end to end: min-labels and set-valued reachability,
    * no tie-breaks — the oracle checks it against the mutual-
    * reachability closure in SQL. Returns (id, scc) for every node of
    * the edge list; scc = min member id.
    *
    * Scale: each outer round first TRIMS (Slota et al.'s Multistep
    * step 1): a node with no incoming or no outgoing edge in the
    * remainder cannot sit on a cycle, so it retires as a singleton
    * SCC — peeled ITERATIVELY (each layer exposes the next), edge-
    * driven at ONE observed staging job per layer (an edge survives
    * iff its src has an in-edge and its dst an out-edge; survivors'
    * node set = srcSet ∩ dstSet, and singletons are reconstructed
    * once at the end as allNodes ∖ FB-found), which drains DAG-shaped
    * regions without paying any coloring fixpoint. The surviving
    * cyclic core then runs the FB round: edge-sized min propagations
    * with path compression (pointer jumping — O(log d) rounds on a
    * depth-d remainder) and sum/count early exits (the CC
    * convergence pattern); outer rounds retire ≥ 1 SCC per live
    * color, so forests of small SCCs drain in parallel, and rounds
    * ALTERNATE the coloring direction (SCCs are reversal-invariant),
    * so a chain of SCCs whose ids ascend along the edges — one color
    * per round for a single direction — drains wholesale on the
    * reversed round (x_scc_chain prices exactly this shape). The
    * residual adversary is an id order hostile to BOTH directions,
    * where rounds still scale with log(SCC-depth) — the topology's
    * price, not the plan's. Round state staged and freed.
    *
    * Budgets: `maxRounds`/`maxInner` ≤ 0 (the default) derive from
    * the node count — n outer rounds (every round retires ≥ 1 node)
    * and n + 1 fixpoint iterations (a min/flag propagation converges
    * within the remainder's diameter < n) always suffice, so the
    * derived budgets never abort a finite input; pass explicit values
    * to bound wall-clock instead, accepting the loud `require` abort
    * when the graph's topology outruns them.
    */
  def stronglyConnectedComponents(edges: DataFrame, src: Column,
                                  dst: Column, maxRounds: Int = 0,
                                  maxInner: Int = 0)
      : DataFrame = {
    val e0 = Rounds.stage("scc.edges",
      edges.select(src.cast("long").as("src"),
          dst.cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct(), Rounds.Rows)
    val (allNodes, nAll) = Checkpoints.stageCount(
      e0.df.select(col("src").as("id"))
        .union(e0.df.select(col("dst").as("id"))).distinct())
    val roundBudget =
      if (maxRounds > 0) maxRounds.toLong else math.max(nAll, 1L)
    val innerBudget =
      if (maxInner > 0) maxInner.toLong else nAll + 1L
    // broadcast regime gate (node-sized round state: colorings,
    // frontiers, retirement sets): below the gate every per-round
    // join is a broadcast hash join — an AQE exchange stage is its
    // own JOB, so each removed exchange removes a per-round barrier
    // FB-retired SCCs only. Trim-retired and edge-drained nodes are
    // singleton SCCs by construction, filled in ONCE at the end via
    // allNodes ∖ (FB-found) — the per-trim-layer staged singleton
    // DataFrame (and its anti-join job) of the previous form is gone.
    val found =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // each OUTER round's state is the remaining edge set
    val drained = Rounds.iterate("scc.outerRound", e0,
        if (e0.count > 0) roundBudget else 0, Rounds.Rows,
        done = (_, c) => c.count == 0) { t =>
      val outer = t.index - 1
      // 0. TRIM, edge-driven: an edge survives iff its src has an
      // in-edge and its dst has an out-edge; the surviving node set
      // is exactly srcSet ∩ dstSet of the surviving edges, so no node
      // table is maintained and each peel layer is ONE observed
      // staging job (was: node stageCount + singleton stage + edge
      // stage = 3-4 jobs per layer). Edge count stable ⇒ no node
      // trimmed (trimming a node removes its edges), so the fixpoint
      // test rides the same job.
      val remE = Rounds.iterate("scc.trimLayer", t.last, Long.MaxValue,
          Rounds.Rows,
          done = (p, c) => c.count == p.count || c.count == 0) { tt =>
        val remE = tt.last.df
        // semi joins dedup their build side internally — no distinct
        // (each distinct was an exchange, i.e. a per-layer barrier)
        val hasIn = remE.select(col("dst").as("src"))
        val hasOut = remE.select(col("src").as("dst"))
        tt.stage(remE
          .join(gate(nAll)(hasIn), Seq("src"), "left_semi")
          .join(gate(nAll)(hasOut), Seq("dst"), "left_semi"))
      }.last
      // trimming drained the remainder: the outer round ends here
      if (remE.count == 0) remE
      else {
        // nodes of the surviving cyclic core (each has in + out
        // here) — derived lazily into the f init staging, never
        // materialized on its own
        val rem = remE.df.select(col("src").as("id"))
          .union(remE.df.select(col("dst").as("id"))).distinct()
        // Rounds ALTERNATE the coloring direction: SCCs are invariant
        // under edge reversal, and a chain whose ids ascend along the
        // edges — the worst case for one direction (a single color per
        // round) — splits into one color PER SCC under the reversed
        // min-propagation, so monotone chains drain in ~2 rounds
        // instead of SCC-depth-many.
        val dirE =
          if (outer % 2 == 0) remE.df
          else remE.df.select(col("dst").as("src"), col("src").as("dst"))
        // 1. directional min-label fixpoint with PATH COMPRESSION:
        // one edge step (f(dst) ≤ min over in-neighbors f(src)) plus
        // one pointer jump (f(v) ← f(f(v)) through the previous
        // round's staged table, the CC loop's trick) per round. Every
        // assigned value is an id that reaches v and labels only
        // decrease, so the fixpoint is the same min-reaching-id
        // coloring and "equal sums ⇒ converged" still holds (the
        // combined step is monotone; a fixpoint of edge∘jump is a
        // fixpoint of the edge step alone). The jump halves the
        // remaining label depth per round: O(log d) observed staging
        // jobs on a depth-d chain instead of O(d).
        // round 1 reads the IDENTITY coloring straight off the edge set
        // (f(v) = v ⇒ the neighbor-min is just min(src) per dst), so the
        // identity table is never staged and round 1 pays no f-broadcast
        // — one staging job and one broadcast job fewer per outer round
        val coloring = Rounds.iterate("scc.coloringRound", Rounds.seed(),
            innerBudget, Rounds.Sum("f"),
            done = (p, c) => p.index > 0 && p.sum.compareTo(c.sum) == 0) { ct =>
          val f = ct.last.df
          val nbrMin =
            if (f eq null)
              dirE.groupBy(col("dst").as("id"))
                .agg(min(col("src")).as("__nbr"))
            else dirE
              .join(gate(nAll)(f.select(col("id").as("src"),
                col("f").as("__nf"))), Seq("src"))
              .groupBy(col("dst").as("id"))
              .agg(min(col("__nf")).as("__nbr"))
          val fBase =
            if (f eq null) rem.select(col("id"), col("id").as("f"))
            else f
          val prop = fBase
            .join(gate(nAll)(nbrMin), Seq("id"), "left")
            .select(col("id"),
              least(col("f"), coalesce(col("__nbr"), col("f")))
                .as("f"))
          // round 1's jump would follow the IDENTITY init table — a
          // provable no-op, skipped
          ct.stage(
            if (f eq null) prop
            else prop
              .join(gate(nAll)(f.select(col("id").as("__jid"),
                col("f").as("__jf"))),
                prop("f") === col("__jid"), "left")
              .select(prop("id").as("id"),
                least(prop("f"), coalesce(col("__jf"), prop("f")))
                  .as("f")))
        }
        require(coloring.converged, s"scc: forward coloring did not " +
          s"converge in $innerBudget rounds (outer $outer)")
        val f = coloring.last.df
        // 2. reach back to the pivot INSIDE each color class (against
        // the round's coloring direction)
        val ce = Checkpoints.stage(dirE
          .join(gate(nAll)(f.select(col("id").as("src"),
            col("f").as("__fs"))), Seq("src"))
          .join(gate(nAll)(f.select(col("id").as("dst"),
            col("f").as("__fd"))), Seq("dst"))
          .where(col("__fs") === col("__fd"))
          .select(col("src"), col("dst")))
        // frontier-layered BFS against the coloring direction: each
        // layer stages only the NEWLY reached ids (one observed job per
        // layer), never the whole reached set re-distincted; reached =
        // the union of layers. Converged when a layer comes back empty.
        // pivots derive from the CACHED f by a narrow filter — no
        // staging job
        val reach = Rounds.iterate("scc.reachLayer",
            Rounds.seed(f.where(col("id") === col("f")).select(col("id"))),
            innerBudget, Rounds.Rows, keep = Rounds.All,
            done = (_, c) => c.count == 0) { rt =>
          rt.stage(
            ce.join(gate(nAll)(rt.last.df.select(col("id").as("dst"))),
                Seq("dst"), "left_semi")
              .select(col("src").as("id"))
              .distinct()
              .join(gate(nAll)(Rounds.union(rt.kept)), Seq("id"), "left_anti"))
        }
        require(reach.converged, s"scc: backward reach did not " +
          s"converge in $innerBudget rounds (outer $outer)")
        // 3. retire the found SCCs; surviving edges re-color next round
        val scc = Checkpoints.stage(
          f.join(gate(nAll)(Rounds.union(reach.untilDone)), Seq("id"),
            "left_semi")
            .select(col("id"), col("f").as("scc")))
        found += scc
        t.scratch(Seq(ce, f, remE.df) ++ reach.kept.map(_.df): _*)
        t.stage(remE.df
          .join(gate(nAll)(scc.select(col("id").as("src"))), Seq("src"),
            "left_anti")
          .join(gate(nAll)(scc.select(col("id").as("dst"))), Seq("dst"),
            "left_anti"))
      }
    }
    require(drained.last.count == 0,
      s"scc did not drain in $roundBudget outer rounds")
    // singleton fill: every node never retired by an FB round is its
    // own SCC (trim-retired or edge-drained) — one anti-join at the
    // end instead of a staged singleton set per trim layer
    if (found.isEmpty)
      allNodes.select(col("id"), col("id").as("scc"))
    else {
      val fb = found.reduce(_ unionAll _)
      fb.unionAll(
        allNodes.join(gate(nAll)(fb.select(col("id"))), Seq("id"),
          "left_anti")
          .select(col("id"), col("id").as("scc")))
    }
  }

  /** The CONDENSATION of a directed graph with LONGEST-PATH levels:
    * contract each SCC ([[stronglyConnectedComponents]]) to one node,
    * keep the distinct cross-SCC edges (a DAG by construction), and
    * compute each condensed node's topological LEVEL — the longest
    * path from any source (level 0 = no incoming edges) — by the
    * monotone fixpoint level(c) ← max(level(c), 1 + max over
    * predecessors), converging in DAG-depth rounds with the CC
    * sum-observation early exit. The dependency-graph readout:
    * "what can run in parallel, what must wait, where the cycles
    * collapsed". Returns (scc, level, n_members).
    *
    * Scale: one SCC run + per-round edge-sized max propagation over
    * the CONDENSED graph (≤ #SCCs nodes — usually far smaller than
    * |V|); state staged and freed per round.
    */
  def sccCondensation(edges: DataFrame, src: Column, dst: Column,
                      maxRounds: Int = 0, maxInner: Int = 0)
      : DataFrame = {
    val e0 = Checkpoints.stage(
      edges.select(src.cast("long").as("src"),
          dst.cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val asg = Checkpoints.stage(stronglyConnectedComponents(
      e0, col("src"), col("dst"), maxRounds, maxInner))
    val ce = Checkpoints.stage(e0
      .join(asg.select(col("id").as("src"), col("scc").as("__ca")),
        Seq("src"))
      .join(asg.select(col("id").as("dst"), col("scc").as("__cb")),
        Seq("dst"))
      .where(col("__ca") =!= col("__cb"))
      .select(col("__ca").as("src"), col("__cb").as("dst"))
      .distinct())
    condensationLevels(asg, ce, maxInner)
  }

  /** The longest-path level fixpoint + member counts over an already-
    * computed (assignment, condensation-edge) pair — the shared tail
    * of [[sccCondensation]] (from-scratch inputs) and
    * [[sccStoreLevels]] (store-backed inputs).
    */
  private def condensationLevels(asg: DataFrame, ce: DataFrame,
                                 maxInner: Int): DataFrame = {
    val lvl0 = Rounds.stage("condensationLevels.start",
      asg.select(col("scc")).distinct()
        .withColumn("level", lit(0L)), Rounds.Rows)
    // DAG depth < #condensed nodes, so the derived budget never
    // aborts a finite input (the levels fixpoint converges or the
    // condensation was not a DAG — a bug the require below names)
    val levelBudget =
      if (maxInner > 0) maxInner.toLong else lvl0.count + 1L
    // levels only grow: equal level sums ⇒ converged
    val run = Rounds.iterate("condensationLevels.round", lvl0,
        levelBudget, Rounds.Sum("level"),
        done = (p, c) => p.index > 0 && p.sum.compareTo(c.sum) == 0) { t =>
      val lvl = t.last.df
      val predMax = ce
        .join(lvl.select(col("scc").as("src"),
          col("level").as("__pl")), Seq("src"))
        .groupBy(col("dst").as("scc"))
        .agg((max(col("__pl")) + 1).as("__nl"))
      t.stage(lvl
        .join(predMax, Seq("scc"), "left")
        .select(col("scc"),
          greatest(col("level"), coalesce(col("__nl"), col("level")))
            .as("level")))
    }
    require(run.converged,
      s"condensationLevels: no fixpoint in $levelBudget rounds" +
        " — the condensation must be a DAG, so this is a bug")
    asg.groupBy(col("scc")).agg(count(lit(1)).as("n_members"))
      .join(run.last.df, Seq("scc"))
      .select(col("scc"), col("level"), col("n_members"))
  }

  /** [[sccCondensation]]'s readout FROM THE INCREMENTAL STORE: the
    * level fixpoint runs over the stored condensation (≤ #SCCs nodes,
    * stale labels mapped at read) and member counts come from the
    * stored assignment — after a [[sccIncremental]] batch the
    * dependency-graph readout refreshes WITHOUT touching the original
    * edge list. Same (scc, level, n_members) relation, hash-checkable
    * against the from-scratch oracle over the union graph.
    */
  def sccStoreLevels(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String, maxInner: Int = 0): DataFrame = {
    val asg = Checkpoints.stage(sccStoreAssign(spark, storeDir))
    val ce = Checkpoints.stage(
      sccCondensed(sccCedgesStore(storeDir).current(spark), asg))
    condensationLevels(asg, ce, maxInner)
  }

  // ---------- incremental strongly connected components ----------

  /** The SCC store's two roots, one family leased on `storeDir`, no
    * manifests: `assign` (id -> scc, newest batch wins) and `cedges`,
    * the condensation's cross-SCC (src, dst) edges as a set whose
    * compaction keeps each edge's EARLIEST batch — relabeling is left to
    * read time, since folding post-batch labels into older rows would
    * break a retried batch's strictly-before view; stale rows only cost
    * the read-time mapping join ([[sccCondensed]]).
    */
  private[graft] def sccAssignStore(storeDir: String): KeyedStore =
    KeyedStore(s"$storeDir/assign", "sccStore/assign",
      Seq("id" -> "bigint"), Seq("scc" -> "bigint"), KeyedStore.NewestWins,
      manifest = false, leaseRoot = storeDir)

  private[graft] def sccCedgesStore(storeDir: String): KeyedStore =
    KeyedStore(s"$storeDir/cedges", "sccStore/cedges",
      Seq("src" -> "bigint", "dst" -> "bigint"), Nil,
      KeyedStore.EarliestBatch, cluster = Seq("src"), manifest = false,
      leaseRoot = storeDir)

  // edges mapped through an (id, scc) assignment: the distinct
  // cross-SCC (src, dst) pairs, every endpoint a node id
  private def sccCondensed(e: DataFrame, asg: DataFrame): DataFrame =
    e.join(asg.select(col("id").as("src"), col("scc").as("__ca")),
        Seq("src"))
      .join(asg.select(col("id").as("dst"), col("scc").as("__cb")),
        Seq("dst"))
      .where(col("__ca") =!= col("__cb"))
      .select(col("__ca").as("src"), col("__cb").as("dst"))
      .distinct()

  // the SCC store's full content over an edge list: the staged (id, scc)
  // assignment and the condensation's cross-SCC edges
  private def sccState(edges: DataFrame, src: Column, dst: Column)
      : (DataFrame, DataFrame) = {
    val e0 = Checkpoints.stage(
      edges.select(src.cast("long").as("src"),
          dst.cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val asg = Checkpoints.stage(
      stronglyConnectedComponents(e0, col("src"), col("dst")))
    (asg, sccCondensed(e0, asg))
  }

  /** Persist [[stronglyConnectedComponents]]' (id, scc) assignment
    * PLUS the condensation's cross-SCC edges as `batch=0` of an
    * incremental store — the state that makes directed-graph
    * maintenance sublinear: edge insertion can only MERGE SCCs (an
    * SCC never splits when reachability grows), so a later batch
    * recomputes SCC over (stored condensation ∪ the batch's mapped
    * edges) — a graph of ≤ #SCCs + batch nodes, usually far smaller
    * than |V| — and relabels only merged members. The
    * [[connectedComponentsIncremental]] contract-through-stored-labels
    * pattern, directed.
    */
  def writeSccStore(edges: DataFrame, src: Column, dst: Column,
                    storeDir: String, filesOut: Int = 1): Unit = {
    val (spark, owner) = (edges.sparkSession, "writeSccStore(batch)")
    val assign = sccAssignStore(storeDir)
    assign.leased(spark, owner) {
      val (asg, cedges) = sccState(edges, src, dst)
      assign.writeBase(spark, owner, filesOut)(asg)
      sccCedgesStore(storeDir).writeBase(spark, owner, filesOut)(cedges)
    }
  }

  /** The SCC store's CURRENT (id, scc) assignment — newest wins per
    * id (scc = min member id of the merged component, maintained
    * exactly by [[sccIncremental]]).
    */
  def sccStoreAssign(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String): DataFrame =
    sccAssignStore(storeDir).current(spark)

  /** The store's condensation edges under the CURRENT assignment:
    * stored rows may carry stale labels (their endpoints were SCC
    * labels at write time), so each endpoint — always a node id —
    * maps through the current assignment; edges whose SCCs have since
    * merged collapse to self-loops and drop. Staleness costs this
    * mapping join, never correctness.
    */
  def sccStoreCondensation(spark: org.apache.spark.sql.SparkSession,
                           storeDir: String): DataFrame =
    sccCondensed(sccCedgesStore(storeDir).current(spark),
      sccStoreAssign(spark, storeDir))

  /** INCREMENTAL SCC — the directed warm start: contract the batch's
    * edges through the stored assignment (unseen endpoints are their
    * own super-nodes), run [[stronglyConnectedComponents]] over the
    * stored condensation ∪ the mapped batch — SOUND because
    * insertions only merge SCCs and the condensation preserves every
    * cross-SCC reachability of the stored graph, and ≤ #SCCs + batch
    * sized because contracted members never re-enter. Labels stay
    * exact: a stored label is its SCC's min member id, so the min
    * over merged super-node labels IS the merged SCC's min member id
    * (the CC-incremental relabel argument, directed). The assign
    * delta holds only merged-SCC members and new nodes; the batch's
    * own cross-SCC edges append to the condensation store under
    * current labels. Retries are overwrite-idempotent (both views
    * read only rows with `__b` < batchId; compaction keeps row-level
    * `__b`). Returns the full (id, scc) assignment over old ∪ new.
    * Edge/node DELETION is out of contract here (it can SPLIT an
    * SCC) — that direction is [[rebuildSccStore]], the documented
    * rebuild-on-retract posture.
    */
  def sccIncremental(newEdges: DataFrame, src: Column, dst: Column,
                     storeDir: String, batchId: Long): DataFrame = {
    val spark = newEdges.sparkSession
    val (assign, cedges) = (sccAssignStore(storeDir), sccCedgesStore(storeDir))
    val owner = "sccIncremental(batch)"
    assign.appending(spark, batchId, "sccIncremental", cedges) {
    val (en, nNew) = Checkpoints.stageCount(
      newEdges.select(src.cast("long").as("src"),
          dst.cast("long").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    val stored = Checkpoints.stage(assign.view(spark, batchId))
    val ids = en.select(col("src").as("id"))
      .union(en.select(col("dst").as("id"))).distinct()
    val mapped = Checkpoints.stage(en
      .join(gate(nNew)(stored.select(col("id").as("src"),
        col("scc").as("__cu"))), Seq("src"), "left")
      .join(gate(nNew)(stored.select(col("id").as("dst"),
        col("scc").as("__cv"))), Seq("dst"), "left")
      .select(coalesce(col("__cu"), col("src")).as("src"),
        coalesce(col("__cv"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    val superE = sccCondensed(cedges.view(spark, batchId), stored)
      .unionByName(mapped)
      .distinct()
    val superAsg = Checkpoints.stage(stronglyConnectedComponents(
      superE, col("src"), col("dst")))
    // super-nodes whose label changed = merged groups' non-min labels
    val remap = Checkpoints.stage(
      superAsg.where(col("id") =!= col("scc"))
        .select(col("id").as("__old"), col("scc").as("__new")))
    // merged SCCs' stored members relabel; winners keep their rows
    val losers = stored
      .join(gate(nNew)(remap), col("scc") === col("__old"))
      .select(col("id"), col("__new").as("scc"))
    // the batch's NEW nodes: their super-node is their own id
    val newNodes = ids
      .join(gate(nNew)(stored.select(col("id"))), Seq("id"), "left_anti")
      .join(gate(nNew)(remap), col("id") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("scc"))
    val slice = Checkpoints.stage(newNodes.unionByName(losers))
    assign.append(spark, owner, batchId, 1)(slice)
    // the batch's own cross-SCC edges, under the POST-batch labels
    cedges.append(spark, owner, batchId, 1)(mapped
      .join(gate(nNew)(remap.select(col("__old").as("src"),
        col("__new").as("__ns"))), Seq("src"), "left")
      .join(gate(nNew)(remap.select(col("__old").as("dst"),
        col("__new").as("__nd"))), Seq("dst"), "left")
      .select(coalesce(col("__ns"), col("src")).as("src"),
        coalesce(col("__nd"), col("dst")).as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct())
    stored
      .join(gate(nNew)(slice.select(col("id"))), Seq("id"), "left_anti")
      .unionByName(slice.select(col("id"), col("scc")))
  }}

  /** RETRACTION for the SCC store — the one maintenance direction
    * [[sccIncremental]] cannot absorb: edge (or node) DELETION can
    * SPLIT an SCC, and a split invalidates the contraction soundness
    * argument (which rests on insertions only merging). The honest
    * form is a REBUILD over the surviving edge list — O(survivors),
    * the rebuild-on-retract posture the KMV compaction documents —
    * written as a SUPERSEDING GENERATION: `assign/gen=<head+1>` and
    * `cedges/gen=<head+1>` hide every earlier batch in the committed
    * view atomically (readers resolve old state or new, never a mix),
    * and the next [[compactSccStore]] cycle vacuums the stale dirs.
    * The caller supplies the surviving edges (the streaming gate's
    * edge store holds them; a node takedown = dropping its incident
    * edges). Stale-read window: until the rebuild lands, reads serve
    * the pre-delete state — retraction is not incremental here BY
    * DESIGN, and the spec pins rebuild ≡ from-scratch including
    * splits.
    */
  def rebuildSccStore(survivingEdges: DataFrame, src: Column,
                      dst: Column, storeDir: String,
                      filesOut: Int = 1): Long = {
    val (spark, owner) =
      (survivingEdges.sparkSession, "rebuildSccStore(batch)")
    val (assign, cedges) = (sccAssignStore(storeDir), sccCedgesStore(storeDir))
    assign.leased(spark, owner) {
      val tok = assign.supersedingToken(spark, cedges)
      val (asg, ce) = sccState(survivingEdges, src, dst)
      assign.writeGen(spark, owner, tok, filesOut)(asg)
      cedges.writeGen(spark, owner, tok, filesOut)(ce)
      tok
    }
  }

  /** OPTIMIZE for the SCC store: assign folds newest-wins per id
    * (row-level `__b` kept — the retry-view contract), cedges fold to
    * distinct rows keeping each edge's EARLIEST batch id.
    */
  def compactSccStore(spark: org.apache.spark.sql.SparkSession,
                      storeDir: String, filesOut: Int = 1)
      : Option[Long] = {
    val owner = "compactSccStore(batch)"
    val assign = sccAssignStore(storeDir)
    assign.leased(spark, owner) {
      val tok = assign.compact(spark, owner, filesOut)
      if (tok.isDefined)
        sccCedgesStore(storeDir).compact(spark, owner, filesOut): Unit
      tok
    }
  }

  // ---------- incremental connected components ----------

  /** The CC store: id -> comp, newest batch wins, id-clustered. */
  private[graft] def ccStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "ccStore", Seq("id" -> "bigint"),
      Seq("comp" -> "bigint"), KeyedStore.NewestWins)

  /** The CC store's comp-clustered PROJECTION root — the same
    * (id, comp, __b) rows re-clustered by comp, so the losers lookup
    * (probe: a batch-sized set of LOSING component ids) opens only
    * loser-comp files instead of scanning the id-clustered store.
    * Projection rows go stale when an id later moves component — the
    * reader confirms every candidate through an id-pruned newest-wins
    * lookup, so staleness costs reading, never correctness;
    * [[compactCCStore]] folds the staleness away.
    */
  private[graft] def ccByCompStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir.stripSuffix("/") + "_bycomp", "ccStore/bycomp",
      Seq("id" -> "bigint"), Seq("comp" -> "bigint"),
      KeyedStore.NewestWins, cluster = Seq("comp"), leaseRoot = storeDir)

  /** Persist [[connectedComponents]]' (id, comp) labeling as `batch=0`
    * of an incremental store (id-clustered, newest-batch-wins rows —
    * the label-store protocol), plus the comp-clustered projection and
    * both sibling footer manifests.
    */
  def writeCCStore(edges: DataFrame, a: Column, b: Column,
                   storeDir: String, filesOut: Int = 4): Unit = {
    val (spark, owner) = (edges.sparkSession, "writeCCStore(batch)")
    val main = ccStore(storeDir)
    main.leased(spark, owner) {
      val labels = Checkpoints.stage(connectedComponents(edges, a, b))
      // projection FIRST, main store second: a committed main row must
      // always have its projection mirror (loser-lookup completeness),
      // so the main write is the commit point — a crash between the
      // two leaves only an orphan projection batch, whose extra
      // candidates the confirm step filters harmlessly
      ccByCompStore(storeDir).writeBase(spark, owner, filesOut)(labels)
      main.writeBase(spark, owner, filesOut)(labels)
    }
  }

  /** RETRACTION for the CC store — [[rebuildSccStore]]'s posture,
    * undirected: edge (or node) deletion can SPLIT a component, which
    * [[connectedComponentsIncremental]]'s contract-through-labels
    * argument cannot absorb (it rests on insertions only merging), so
    * the honest form is a REBUILD over the surviving edge list,
    * written as a SUPERSEDING `gen=<head+1>` in the main store AND
    * the comp-clustered projection — the committed view flips
    * atomically, stale ids (nodes that lost every edge) disappear
    * rather than lingering as newest-wins rows, and later incremental
    * batches continue above the generation (monotone-guarded).
    */
  def rebuildCCStore(survivingEdges: DataFrame, a: Column, b: Column,
                     storeDir: String, filesOut: Int = 4): Long = {
    val (spark, owner) =
      (survivingEdges.sparkSession, "rebuildCCStore(batch)")
    val (main, byComp) = (ccStore(storeDir), ccByCompStore(storeDir))
    main.leased(spark, owner) {
      val tok = main.supersedingToken(spark, byComp)
      val labels = Checkpoints.stage(
        connectedComponents(survivingEdges, a, b))
      // projection first, main second — the writeCCStore commit order
      byComp.writeGen(spark, owner, tok, filesOut)(labels)
      main.writeGen(spark, owner, tok, filesOut)(labels)
      tok
    }
  }

  /** The CC store's CURRENT (id, comp) labeling — the committed view
    * folded newest-wins per id; the read the streaming gate's
    * consumers (and specs) use between micro-batches.
    */
  def ccStoreLabels(spark: org.apache.spark.sql.SparkSession,
                    storeDir: String): DataFrame =
    ccStore(storeDir).current(spark)

  /** SNAPSHOT read of the CC store: the (id, comp) labeling AS OF
    * batch `asOf` (batches ≤ asOf, newest wins per id) — the
    * reproducible-corpus read ("the dedup clusters the training run
    * saw at batch k"), and the inputs of [[graft.operators.Stats
    * .keyedDiff]]'s snapshot audit. Exact for any `asOf` at or after
    * the newest generation token: compaction's newest-wins fold keeps
    * one row per id (row-level `__b` intact), so ids whose label
    * changed AFTER an older snapshot lose their older row — the
    * standard time-travel-vs-OPTIMIZE retention trade (pin the
    * snapshot read before compacting, or keep pre-compaction batch
    * dirs under an explicit retention policy, exactly as
    * Delta/Iceberg do).
    */
  def ccStoreLabelsAsOf(spark: org.apache.spark.sql.SparkSession,
                        storeDir: String, asOf: Long): DataFrame =
    ccStore(storeDir).asOf(spark, asOf)

  /** INCREMENTAL connected components — the truly sublinear warm
    * start: edge insertion only MERGES components, so a batch is
    * processed by contracting its edges through the stored labels and
    * running CC on the contracted graph, which has at most one node
    * per TOUCHED component plus the batch's new nodes — never the
    * corpus (the union-find "link by canonical representative" step,
    * distributed as one contraction round of Kiveris et al.,
    * "Connected components in MapReduce and beyond", SoCC 2014 —
    * whose large/small-star machinery [[connectedComponentsStar]]
    * also finishes the contracted graph here). Because a stored component label is the MIN member id,
    * the min over merged contracted nodes is the min over all merged
    * members, so relabeling through the contraction is EXACT
    * (x_cc_incremental shares a full-graph recursive-CTE oracle).
    *
    * Only rows of LOSING components rewrite: members of the component
    * whose label is the merged min keep their stored row untouched;
    * the delta holds losing-component members and the batch's new
    * nodes. Retries are overwrite-idempotent (the view reads only
    * batches < batchId); [[compactCCStore]] folds newest-wins.
    *
    * Scale shape: one broadcast-gated relabel join of the batch edges
    * against the store (manifest-style pruning rides the id-clustered
    * layout), CC on the contracted batch-sized graph, one semi join to
    * fetch losing-component rows. No full-graph pass anywhere.
    *
    * Returns the full (id, comp) labeling over old ∪ new nodes.
    */
  def connectedComponentsIncremental(newEdges: DataFrame, na: Column,
                                     nb: Column, storeDir: String,
                                     batchId: Long,
                                     smallStoreBytes: Long = 32L << 20)
      : DataFrame = {
    val spark = newEdges.sparkSession
    val (main, byComp) = (ccStore(storeDir), ccByCompStore(storeDir))
    val owner = "connectedComponentsIncremental(batch)"
    main.appending(spark, batchId, "connectedComponentsIncremental",
        byComp) {
    val (en, nNew) = Checkpoints.stageCount(
      newEdges.select(na.cast("long").as("u"), nb.cast("long").as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    // relabel batch endpoints through the stored components; unknown
    // (new) nodes keep their own id — the store scan OPENS only the
    // files the batch endpoints can live in (sibling footer manifest
    // over the id-clustered layout), then row-filters on a batch-sized
    // semi join. Newest-wins is exact over the pruned set: every row
    // of a probed id survives file pruning
    val ids = en.select(col("u").as("id"))
      .union(en.select(col("v").as("id"))).distinct()
    // one pruner for both id-keyed probes below (endpoint relabel +
    // loser-candidate confirm): manifest + listing load once. Regime
    // gate on MEASURED store bytes, as in kCoreIncremental: a small
    // store reads whole (fewer scheduler round trips than per-probe
    // pruning), a big one only by manifest-pruned probe.
    val idPruner = main.keyPruner(spark, "id")
    val smallStore = idPruner.totalBytes <= smallStoreBytes
    def idProbeView(probe: DataFrame): DataFrame =
      if (smallStore) spark.read.parquet(main.committedDirs(spark): _*)
      else idPruner.read(probe)
    val touchedState = Checkpoints.stage(
      main.foldRows(idProbeView(ids), batchId)
        .join(gate(nNew)(ids), Seq("id"), "left_semi"))
    val relabeled = en
      .join(gate(nNew)(touchedState.select(col("id").as("u"),
        col("comp").as("cu"))), Seq("u"), "left")
      .join(gate(nNew)(touchedState.select(col("id").as("v"),
        col("comp").as("cv"))), Seq("v"), "left")
      .select(coalesce(col("cu"), col("u")).as("ca"),
        coalesce(col("cv"), col("v")).as("cb"))
      .where(col("ca") =!= col("cb"))
    // CC over the CONTRACTED graph: batch-sized by construction
    val merged = Checkpoints.stage(
      connectedComponents(relabeled, col("ca"), col("cb"))
        .where(col("id") =!= col("comp"))
        .select(col("id").as("__old"), col("comp").as("__new")))
    // losing components' members rewrite; winners keep their rows.
    // Member candidates come from the comp-clustered projection —
    // probe: the batch-sized losing-comp set, so only loser-comp
    // FILES open — then each candidate's CURRENT label is confirmed
    // through an id-pruned newest-wins lookup (projection rows go
    // stale when an id later moves component; the confirm step makes
    // staleness cost reading, never correctness; compaction folds it
    // away). Stores written before the projection existed fall back
    // to the id-clustered scan, and never grow a partial projection.
    val hasProjection = byComp.committedDirs(spark).nonEmpty
    val losers =
      if (!hasProjection || smallStore)
        main.view(spark, batchId)
          .join(gate(nNew)(merged), col("comp") === col("__old"))
          .select(col("id"), col("__new").as("comp"))
      else {
        val loserComps = merged.select(col("__old").as("comp"))
        val candIds = Checkpoints.stage(
          byComp.pruned(spark, "comp", loserComps)
            .where(col("__b") < batchId)
            .join(gate(nNew)(loserComps), Seq("comp"), "left_semi")
            .select(col("id")).distinct())
        main.foldRows(idPruner.read(candIds)
            .join(candIds, Seq("id"), "left_semi"), batchId)
          .join(gate(nNew)(merged), col("comp") === col("__old"))
          .select(col("id"), col("__new").as("comp"))
      }
    // the batch's NEW nodes: absent from the store, so each appears in
    // the contracted graph under its OWN id — its final component is
    // its merged remap (when its contracted node lost) or itself (it
    // is the min of its merged group, or untouched)
    val newNodes = ids
      .join(gate(nNew)(touchedState.select(col("id"))), Seq("id"),
        "left_anti")
      .join(gate(nNew)(merged), col("id") === col("__old"), "left")
      .select(col("id"), coalesce(col("__new"), col("id")).as("comp"))
    val slice = Checkpoints.stage(newNodes.unionByName(losers))
    // projection mirror FIRST, main store second: a committed main row
    // must always have its projection mirror (loser-lookup
    // completeness — the main write is the commit point; an orphan
    // projection batch from a crash in between only adds candidates
    // the confirm step filters). A store without a projection base
    // skips the mirror and stays on the fallback scan. Manifest upkeep
    // only in the big regime (stale manifests are sound — uncovered
    // files always read — and compactCCStore restores full coverage);
    // the PROJECTION batch itself is always appended: its completeness
    // is a correctness invariant for future big-regime loser lookups,
    // the manifest is only an index
    if (hasProjection)
      byComp.append(spark, owner, batchId, 1, indexed = !smallStore)(slice)
    main.append(spark, owner, batchId, 1, indexed = !smallStore)(slice)
    main.view(spark, batchId)
      .join(gate(nNew)(slice.select(col("id"))), Seq("id"), "left_anti")
      .unionByName(slice.select(col("id"), col("comp")))
  }}

  /** Fold the CC store's delta batches, newest batch winning per id —
    * and fold the comp-clustered projection the same way (the per-id
    * newest-wins fold is what evicts its stale rows), refreshing both
    * manifests.
    */
  def compactCCStore(spark: org.apache.spark.sql.SparkSession,
                     storeDir: String, filesOut: Int = 4)
      : Option[Long] = {
    val owner = "compactCCStore(batch)"
    val main = ccStore(storeDir)
    main.leased(spark, owner) {
      val tok = main.compact(spark, owner, filesOut)
      if (tok.isDefined)
        ccByCompStore(storeDir).compact(spark, owner, filesOut): Unit
      tok
    }
  }

  // ---------- warm-start incremental k-core ----------

  /** The k-core store: member ids, a monotone set — the view is the
    * union of committed member deltas.
    */
  private[graft] def kCoreStore(storeDir: String): KeyedStore =
    KeyedStore(storeDir, "kCoreStore", Seq("id" -> "bigint"), Nil,
      KeyedStore.Membership)

  /** Persist [[kCore]]'s member set as `batch=0` of an incremental
    * store. Membership is MONOTONE under edge insertion (the k-core
    * only grows), so the store is append-only member ids — no
    * newest-wins merge needed; the view is the union of committed
    * batches.
    */
  def writeKCoreStore(edges: DataFrame, a: Column, b: Column, k: Int,
                      storeDir: String, filesOut: Int = 4,
                      maxRounds: Int = 50): Unit =
    kCoreStore(storeDir).writeBase(edges.sparkSession,
        "writeKCoreStore(batch)", filesOut) {
      kCore(edges, a, b, k, maxRounds)
    }

  /** RETRACTION for the k-core store — the monotone-union twist on
    * [[rebuildCCStore]]'s posture: membership only GROWS under edge
    * insertion (which is why the store is a union of member deltas),
    * but deletion SHRINKS the core, a direction the union view cannot
    * express at all — so the store REBUILDS as the k-core of the
    * surviving edges, written as a superseding `gen=<head+1>` that
    * hides every earlier member delta atomically. Later
    * [[kCoreIncremental]] batches continue above the generation
    * (monotone-guarded).
    */
  def rebuildKCoreStore(survivingEdges: DataFrame, a: Column,
                        b: Column, k: Int, storeDir: String,
                        filesOut: Int = 4, maxRounds: Int = 50): Long =
    kCoreStore(storeDir).supersede(survivingEdges.sparkSession,
        "rebuildKCoreStore(batch)", filesOut) {
      kCore(survivingEdges, a, b, k, maxRounds)
    }

  /** The k-core store's CURRENT member set (union of committed member
    * deltas — membership is monotone); the read the streaming gate's
    * consumers (and specs) use between micro-batches.
    */
  def kCoreStoreMembers(spark: org.apache.spark.sql.SparkSession,
                        storeDir: String): DataFrame =
    kCoreStore(storeDir).current(spark)

  /** Snapshot read of the k-core member set as of batch `asOf` —
    * membership is monotone, so (unlike the newest-wins stores) every
    * historical snapshot survives compaction exactly: the fold keeps
    * each id's max batch, which is ≤ asOf iff the id was a member by
    * then. No retention trade here.
    */
  def kCoreStoreMembersAsOf(spark: org.apache.spark.sql.SparkSession,
                            storeDir: String, asOf: Long): DataFrame =
    kCoreStore(storeDir).asOf(spark, asOf)

  /** WARM-START k-core: the fixed-k core of the UNION graph, peeling
    * ONLY a candidate frontier — the persisted members never re-peel
    * (the insertion-locality idea of Sarıyüce et al., "Streaming
    * algorithms for k-core decomposition", VLDB 2013, specialized to
    * fixed-k membership). Soundness rests on two facts: (1) edge insertion never shrinks
    * the k-core, so stored members stay members and are FROZEN; (2) a
    * node can flip INTO the core only through a chain of flipped
    * nodes reaching a new edge, every one with union-degree ≥ k — so
    * the candidate set is the closure of the new edges' endpoints
    * through ≥ k-degree non-members, grown to a fixpoint, and the
    * synchronous peel then runs over candidates alone with degrees
    * counted into (frozen members ∪ surviving candidates). Unlike the
    * triangle path, a re-sent historical edge is HARMLESS here — it
    * only seeds closure from nodes that then peel away.
    *
    * Survivors append as an overwrite-idempotent `batch=<id>` member
    * delta (monotone store; retries read only batches < batchId).
    * Returns the full member set, ≡ [[kCore]] over the union
    * (x_kcore_incremental shares x_kcore's unrolled-peel oracle).
    */
  def kCoreIncremental(allEdges: DataFrame, a: Column, b: Column,
                       newEdges: DataFrame, na: Column, nb: Column,
                       k: Int, storeDir: String, batchId: Long,
                       maxRounds: Int = 50,
                       smallStoreBytes: Long = 32L << 20)
      : DataFrame = {
    require(k >= 1, "k must be >= 1")
    val spark = allEdges.sparkSession
    val store = kCoreStore(storeDir)
    store.appending(spark, batchId, "kCoreIncremental") {
    val e = Checkpoints.stage(
      allEdges.select(least(a, b).as("u"), greatest(a, b).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
    val en = newEdges.select(least(na, nb).as("u"),
      greatest(na, nb).as("v")).where(col("u") =!= col("v"))
    // union-degree eligibility: only ≥ k-degree nodes can flip into
    // the core — computed from the input edge list (data-sized and
    // inherent: the union graph is an argument), staged once
    val degreeOK = Checkpoints.stage(
      e.select(col("u").as("id")).unionAll(e.select(col("v").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k)
        .select(col("id")))
    // membership regime, gated on MEASURED store bytes (from the
    // listing the pruner already paid, never a scan). SMALL store:
    // stage the whole member set once — membership then fuses into
    // each round's plan as a broadcast semi join, ZERO extra jobs per
    // round. BIG store (the 100 TB arm): consult membership BY PROBE —
    // the store scan OPENS only the files the probe ids can live in
    // (sibling footer manifest over the id-clustered layout) and the
    // member store is never scanned whole; each round's probe pays
    // one pruning job, which is the right trade exactly when the
    // bytes it skips dwarf scheduler latency. The r11 bench window
    // caught the un-gated pruned shape at 143 scheduler round trips
    // per run (2.9× on x_kcore_incremental) — per-round pruning of a
    // megabyte-sized store is pure fixed cost.
    val memberPruner = store.keyPruner(spark, "id")
    val smallStore = memberPruner.totalBytes <= smallStoreBytes
    val oldCoreSmall: Option[DataFrame] =
      if (!smallStore) None
      else Some(Checkpoints.stage(store.foldRows(
        spark.read.parquet(store.committedDirs(spark): _*), batchId)))
    def memberOf(probe: DataFrame): DataFrame = oldCoreSmall match {
      case Some(oc) =>
        probe.join(broadcast(oc), Seq("id"), "left_semi")
      case None =>
        memberPruner.read(probe)
          .where(col("__b") < batchId)
          .select(col("id"))
          .join(probe, Seq("id"), "left_semi")
    }
    // small regime: the whole eligible set (≥ k-degree non-members)
    // stages ONCE, so each closure round is a single semi join against
    // it — no per-round membership broadcast
    val eligibleSmall: Option[DataFrame] = oldCoreSmall.map(oc =>
      Checkpoints.stage(
        degreeOK.join(broadcast(oc), Seq("id"), "left_anti")))
    // the eligible slice of a frontier: its ≥ k-degree NON-members —
    // flips propagate only along such chains
    def eligibleOf(probe: DataFrame): DataFrame = eligibleSmall match {
      case Some(el) => probe.join(el, Seq("id"), "left_semi")
      case None =>
        val pk = probe.join(degreeOK, Seq("id"), "left_semi")
        pk.join(memberOf(pk), Seq("id"), "left_anti")
    }
    val cand0 = Rounds.stage("kCoreIncremental.closure", eligibleOf(
      en.select(col("u").as("id")).union(en.select(col("v").as("id")))
        .distinct()), Rounds.Rows)
    // closure: grow through eligible neighbors to a fixpoint — flips
    // propagate only along such chains
    val cand = Rounds.iterate("kCoreIncremental.closure", cand0,
        if (cand0.count > 0) maxRounds else 0, Rounds.Rows,
        done = (p, c) => c.count <= p.count) { t =>
      val (cand, nc) = (t.last.df, t.last.count)
      val nbrs = e.join(
          gate(nc)(cand.select(col("id").as("u"))),
          Seq("u"), "left_semi")
        .select(col("v").as("id"))
        .union(e.join(gate(nc)(cand.select(col("id").as("v"))),
          Seq("v"), "left_semi")
          .select(col("u").as("id")))
      t.stage(cand.unionByName(eligibleOf(nbrs.distinct())).distinct())
    }.last
    // peel candidates with members frozen: a candidate survives iff
    // its degree into (frozen members ∪ surviving candidates) ≥ k.
    // Only edges INCIDENT to candidates are enumerated, and only the
    // candidates' current neighbor set probes the member store —
    // per-round work is frontier-sized on both the edge and store side
    val surv = Rounds.iterate("kCoreIncremental.peel", cand,
        if (cand.count > 0) maxRounds else 0, Rounds.Rows,
        done = (p, c) => c.count == p.count) { t =>
      val (surv, ns) = (t.last.df, t.last.count)
      // one (c, w) row per candidate endpoint of each incident edge
      // (a candidate–candidate edge credits both endpoints)
      val inc = e.join(gate(ns)(surv.select(col("id").as("u"))),
          Seq("u"))
        .select(col("u").as("c"), col("v").as("w"))
        .unionAll(e.join(
          gate(ns)(surv.select(col("id").as("v"))),
          Seq("v"))
          .select(col("v").as("c"), col("u").as("w")))
      val nbrIds = inc.select(col("w").as("id")).distinct()
      val live = surv.unionByName(memberOf(nbrIds))
      t.stage(
        inc.join(live.select(col("id").as("w")), Seq("w"), "left_semi")
          .groupBy(col("c")).agg(count(lit(1)).as("__d"))
          .where(col("__d") >= k)
          .select(col("c").as("id")))
    }.last.df
    // manifest upkeep only in the big regime: a stale manifest is
    // SOUND (uncovered files always read), the small regime never
    // consults it, and the next compactKCoreStore refreshes coverage
    // in full — so the small regime pays zero index maintenance
    store.append(spark, "kCoreIncremental(batch)", batchId, 1,
      indexed = !smallStore)(surv)
    // the one full-view read, REBUILT after the write (a retry's
    // overwrite invalidates listings captured before it; surv is
    // staged, so its data predates the overwrite safely)
    store.view(spark, batchId).unionByName(surv)
  }}

  /** Fold the k-core store's member deltas into one id-clustered
    * generation (set union — membership is monotone).
    */
  def compactKCoreStore(spark: org.apache.spark.sql.SparkSession,
                        storeDir: String, filesOut: Int = 4)
      : Option[Long] =
    kCoreStore(storeDir).compact(spark, "compactKCoreStore(batch)",
      filesOut)
}
