package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph centrality for corpus curation. Production web corpora rank
  * pages by graph position before content ever gets scored — Common Crawl
  * publishes harmonic-centrality/PageRank ranks precisely so downstream
  * filters can keep well-linked pages and drop link-farm islands — and a
  * training-data engine needs the same signal as a first-class column.
  *
  * Everything here is INTEGER arithmetic in nano-rank units: each
  * iteration's ranks are exact BIGINTs, so the distributed sum is
  * order-independent and a SQL oracle replays the whole power iteration
  * bit-for-bit (floating-point PageRank would hash-diverge on summation
  * order alone). The per-iteration floor is the quantization; its error is
  * ≤ 1 nano per term and never accumulates across engines because both
  * floor at the same places.
  */
object GraphOps {

  /** Deterministic link graph over dense doc ids (the corpus tables carry
    * no hyperlinks, so the query BUILDS the graph from doc_id arithmetic —
    * the [[CorpusOps.piiFixture]] pattern): node i links to (a·i+b) mod n
    * for (a,b) ∈ {(31,7), (17,3), (5,11)}, self-loops dropped, multi-edges
    * collapsed. Affine maps with a ∤ n are permutations, so in-degree is
    * ~3 for every node — a connected expander-ish graph whose ranks are
    * still far from uniform (the floors and collapsed edges break the
    * symmetry).
    */
  def linkFixture(docs: DataFrame, n: Long,
      idCol: String = "doc_id"): DataFrame = {
    val i = col(idCol)
    docs.select(i.as("src"),
        explode(array(
          (lit(31L) * i + 7L) % n,
          (lit(17L) * i + 3L) % n,
          (lit(5L) * i + 11L) % n)).as("dst"))
      .filter(col("dst") =!= col("src"))
      .distinct()
  }

  /** Deterministic reply-forest fixture: post 0 and every idHash%5=0
    * post start a thread (parent null); every other post replies to a
    * strictly earlier post `id − (1 + idHash % min(id, 20))`. Back-steps
    * up to 20 give reply chains tens of hops deep — deep enough that the
    * doubling in [[threadRoots]] is exercised over multiple rounds.
    */
  def forumFixture(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol)
    val h = CorpusOps.idHash(id)
    docs.select(id.as("id"),
      when(id === 0 || h % 5 === 0, lit(null).cast("long"))
        .otherwise(id - (lit(1L) + h % least(id, lit(20L)))).as("parent"))
  }

  /** Thread-root resolution by POINTER DOUBLING (q177): assembling forum
    * posts/comments into conversation threads — per post, its thread
    * root and reply depth. The naive plan walks one parent hop per
    * round (O(max depth) joins: a 10,000-deep chain = 10,000 shuffles).
    * Pointer doubling instead squares the jump each round —
    * anc′(v) = anc(anc(v)), dist′(v) = dist(v) + dist(anc(v)) — so
    * convergence takes ⌈log₂ depth⌉ rounds: 14 joins for that same
    * 10,000-deep chain. Roots self-loop at dist 0, making the update a
    * total function with no null branches in the join.
    *
    * Scale shape per round: ONE self equi-join on the ancestor key + a
    * projection; state is 3 BIGINTs per node; lineage cut per round via
    * localCheckpoint (the q64/q132 discipline); the driver checks a
    * one-row convergence count, so rounds stop as soon as every pointer
    * is at its root.
    */
  def threadRoots(posts: DataFrame, maxRounds: Int = 32): DataFrame = {
    var state = posts.select(col("id").as("node_id"),
        coalesce(col("parent"), col("id")).as("anc"),
        when(col("parent").isNull, 0L).otherwise(1L).as("dist"))
      .localCheckpoint(true)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      val lookup = state.select(col("node_id").as("l_id"),
        col("anc").as("l_anc"), col("dist").as("l_dist"))
      // round-14: the convergence probe rides the checkpoint job as an
      // observed metric over the SAME join (old anc vs hopped anc) — the
      // old shape re-joined next against state and counted, a whole extra
      // join job per round
      val obs = new org.apache.spark.sql.Observation(
        s"threadroots-$rounds-${System.nanoTime()}")
      val next = state.join(lookup, col("anc") === col("l_id"))
        .select(col("node_id"), col("l_anc").as("anc"),
          (col("dist") + col("l_dist")).as("dist"),
          (col("anc") =!= col("l_anc")).as("_moved"))
        .observe(obs, sum(when(col("_moved"), 1L).otherwise(0L)).as("moved"))
        .drop("_moved")
        .localCheckpoint(true)
      converged = (obs.getAsJava.getOrDefault("moved", 0L) match {
        case null => 0L
        case n: java.lang.Number => n.longValue()
      }) == 0L
      val prev = state
      state = next
      prev.unpersist()
      rounds += 1
    }
    state.select(col("node_id"), col("anc").as("root_id"),
      col("dist").as("depth"))
  }

  /** Degree-tiered link fixture for the k-core peel (q208): a ring
    * (i → i+1 mod n) gives every node baseline undirected degree 2, and
    * the third of nodes with idHash%3 = 0 additionally emit the three
    * affine links — a hub overlay whose incidental targets lift SOME
    * chain nodes to degree 3+. The point is degree DIVERSITY: the
    * [[linkFixture]] expander is too uniform for peeling (any k either
    * keeps everything or cascades to empty), while this graph peels a
    * real boundary over several rounds and leaves a non-trivial 3-core.
    */
  def tieredLinkFixture(docs: DataFrame, n: Long,
      idCol: String = "doc_id"): DataFrame = {
    val i = col(idCol)
    val h = CorpusOps.idHash(i)
    val ring = docs.select(i.as("src"), ((i + 1) % n).as("dst"))
    val hubs = docs.filter(h % 3 === 0).select(i.as("src"),
      explode(array(
        (lit(31L) * i + 7L) % n,
        (lit(17L) * i + 3L) % n,
        (lit(5L) * i + 11L) % n)).as("dst"))
    ring.union(hubs).filter(col("dst") =!= col("src")).distinct()
  }

  /** K-core peel to FIXPOINT (q208): iteratively remove nodes whose
    * degree in the SURVIVING undirected subgraph is < k — the densest-
    * neighborhood filter crawl curation uses above the per-node reads
    * ([[pageRank]]/[[hits]] score nodes; the k-core keeps the cohesive
    * subgraph and drops tendrils/link-chains whose every member looks
    * fine individually). The driver loops until the surviving edge
    * count stops changing (a one-long count per round, the
    * [[threadRoots]] convergence discipline), capped at `maxRounds`;
    * the SQL oracle unrolls a FIXED stage count past the fixture's
    * measured fixpoint — post-fixpoint peel stages are identities, so
    * early-exit Spark and fully-unrolled SQL agree bit-for-bit.
    *
    * Scale shape per round: one degree aggregation (map-side combine) +
    * one semi-join of edges against survivors per endpoint — all equi-
    * shuffles on node ids; carried state is the surviving edge list,
    * monotonically shrinking; lineage cut per round.
    */
  def kCore(edges: DataFrame, nodes: DataFrame, k: Int = 3,
      maxRounds: Int = 16, idCol: String = "doc_id"): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    var e = sym.localCheckpoint(eager = true)
    var prev = -1L
    var cur = e.count()
    var rounds = 0
    while (cur != prev && rounds < maxRounds) {
      prev = cur
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val surv = deg.filter(col("deg") >= k).select(col("id"))
      // round-14: the surviving-edge count rides the checkpoint job as an
      // observed metric — the old shape ran a separate count() job per round
      val obs = new org.apache.spark.sql.Observation(
        s"kcore-$rounds-${System.nanoTime()}")
      val next = e
        .join(surv.withColumnRenamed("id", "src"), Seq("src"), "left_semi")
        .join(surv.withColumnRenamed("id", "dst"), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .observe(obs, count(lit(1)).as("n"))
        .localCheckpoint(eager = true)
      val old = e
      e = next
      old.unpersist()
      cur = obs.getAsJava.getOrDefault("n", 0L) match {
        case null => 0L
        case n: java.lang.Number => n.longValue()
      }
      rounds += 1
    }
    val finalDeg = e.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    nodes.select(col(idCol))
      .join(finalDeg, col(idCol) === col("id"), "left")
      .select(col(idCol),
        coalesce(col("deg"), lit(0L)).as("core_degree"),
        (coalesce(col("deg"), lit(0L)) >= k).as("in_core"))
  }

  /** Fixed-iteration HITS (q199) in exact micro-score BIGINTs: the
    * hub/authority complement of [[pageRank]] — PageRank scores where you
    * LAND, HITS separates pages that ARE good (authorities: linked from
    * good hubs) from pages that POINT well (hubs: linking to good
    * authorities). Curation uses both: link directories and aggregator
    * index pages are high-hub/low-authority and usually boilerplate-heavy,
    * while high-authority pages are the keep set.
    *
    * Per iteration: a′(v) = Σ_{(u,v)∈E} h(u), then L∞-normalize in
    * integers a(v) = ⌊a′(v)·10⁶ / max a′⌋ (no sqrt — an L2 norm would put
    * a float boundary inside every score; the max-norm is the standard
    * convergent alternative and keeps every intermediate a BIGINT the SQL
    * oracle replays bit-for-bit); then h′(u) = Σ_{(u,v)∈E} a(v) and the
    * same normalization. Nodes with no in-links (out-links) hold score 0
    * via the left join's coalesce.
    *
    * Scale shape: per iteration two equi-joins (edges ⨝ scores, each
    * co-partitionable with the edge list bucketed by src/dst) + two
    * map-side-combined sums + two one-row max aggregates broadcast back;
    * carried state is one BIGINT per node per side, lineage cut per round
    * via localCheckpoint. Overflow bound: score·10⁶ ≤ maxdeg·10¹², so
    * BIGINTs hold to in/out-degree < 9·10⁶; shard hotter supernodes (or
    * lift to DECIMAL(38,0)/HUGEINT) past that.
    */
  def hits(edges: DataFrame, nodes: DataFrame, iters: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    val ids = nodes.select(col(idCol).as("id"))
    var hubs = ids.select(col("id"), lit(1000000L).as("h"))
    var auths = ids.select(col("id"), lit(0L).as("a"))
    for (_ <- 1 to iters) {
      val araw = edges.join(hubs, col("src") === col("id"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
      val amax = araw.agg(max(col("ar")).as("am"))
      auths = ids.join(araw, col("id") === col("dst"), "left")
        .crossJoin(broadcast(amax))
        .select(col("id"),
          coalesce(expr("ar * 1000000 div am"), lit(0L)).as("a"))
        .localCheckpoint(eager = true)
      val hraw = edges.join(auths, col("dst") === col("id"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
      val hmax = hraw.agg(max(col("hr")).as("hm"))
      hubs = ids.join(hraw, col("id") === col("src"), "left")
        .crossJoin(broadcast(hmax))
        .select(col("id"),
          coalesce(expr("hr * 1000000 div hm"), lit(0L)).as("h"))
        .localCheckpoint(eager = true)
    }
    auths.join(hubs, "id")
      .select(col("id").as(idCol), col("a").as("auth6"), col("h").as("hub6"),
        (col("a").cast("double") / 1e6).as("auth"),
        (col("h").cast("double") / 1e6).as("hub"))
  }

  /** Fixed-iteration PageRank (damping 0.85) in exact nano-rank BIGINTs:
    * r₀ = ⌊10⁹/n⌋ for every node, then per iteration each node sends
    * ⌊r/outdeg⌋ along each out-edge and receives
    * base + ⌊85·Σ(contributions)/100⌋ with base = ⌊15·10⁹/(100n)⌋.
    * Nodes without in-links keep the teleport base.
    *
    * Scale shape: per iteration exactly one equi-join (ranks ⨝ edges on
    * src — co-partitionable with the edge list bucketed by src, the layout
    * [[ScalePatterns.writeBucketed]] provides) and one groupBy(dst) sum
    * with map-side partial aggregation; the rank state that carries
    * between iterations is one BIGINT per node. That is the canonical
    * distributed power iteration — no collect, no per-node driver state,
    * lineage cut per round via localCheckpoint exactly like
    * [[Dedup.nearDupClusters]]' label propagation.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, n: Long, iters: Int = 3,
      idCol: String = "doc_id"): DataFrame = {
    val scale = 1000000000L
    val base = (15L * scale) / (100L * n)
    val od = edges.groupBy(col("src")).agg(count(lit(1)).as("od"))
    val withOd = edges.join(od, "src")
    var ranks = nodes.select(col(idCol).as("id"), lit(scale / n).as("r"))
    for (_ <- 1 to iters) {
      val sums = withOd.join(ranks, col("src") === col("id"))
        .select(col("dst"), expr("r div od").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      ranks = nodes.select(col(idCol).as("id"))
        .join(sums, col("id") === col("dst"), "left")
        .select(col("id"),
          (lit(base) + expr(s"85 * coalesce(s, 0L) div 100").cast("long"))
            .as("r"))
        .localCheckpoint(eager = true)
    }
    ranks.select(col("id").as(idCol), col("r").as("rank_nano"),
      (col("r").cast("double") / 1e9).as("rank"))
  }

  /** Triangle-bearing link fixture for [[triangleCount]] (q266): the
    * [[tieredLinkFixture]] ring + affine hub overlay, plus a chord
    * (i → i+2 mod n) for every idHash%7 = 0 node — each chord closes the
    * ring path i → i+1 → i+2 into a GUARANTEED triangle at every SF
    * (the plain ring is one n-cycle with zero triangles; affine-overlap
    * triangles alone are too rare at small n to exercise the operator).
    */
  def triangleFixture(docs: DataFrame, n: Long,
      idCol: String = "doc_id"): DataFrame = {
    val i = col(idCol)
    val h = CorpusOps.idHash(i)
    val ring = docs.select(i.as("src"), ((i + 1) % n).as("dst"))
    val chords = docs.filter(h % 7 === 0)
      .select(i.as("src"), ((i + 2) % n).as("dst"))
    val hubs = docs.filter(h % 3 === 0).select(i.as("src"),
      explode(array(
        (lit(31L) * i + 7L) % n,
        (lit(17L) * i + 3L) % n,
        (lit(5L) * i + 11L) % n)).as("dst"))
    ring.union(chords).union(hubs)
      .filter(col("dst") =!= col("src")).distinct()
  }

  /** Exact per-node triangle census + local clustering coefficient
    * (q266) — the cohesion read beside [[kCore]]'s peel: a crawl node
    * whose neighbors ALSO link each other sits in real community
    * structure; link farms and spam chains have high degree but
    * near-zero closure. cc(v) = 2·t(v)/(d(v)·(d(v)−1)), NULL below
    * degree 2.
    *
    * The enumeration is DEGREE-ORIENTED (the Latapy/"forward" method,
    * the standard distributed-triangle trick): orient each undirected
    * edge from its (degree, id)-smaller endpoint to the larger, build
    * wedges only from each node's ORIENTED out-neighbors, and close
    * them with one more oriented-edge equi-join. Every triangle is
    * found exactly once (its (degree,id)-minimum vertex owns it), and
    * wedge work is Σ outdeg² = O(m^1.5) instead of the naive Σ deg²,
    * which a single hub makes quadratic — this is what survives a
    * power-law graph at 100 TB. All equi-joins on node ids; counts are
    * exact BIGINTs; cc quantizes as 2t·10⁶ div d(d−1).
    */
  def triangleCount(edges: DataFrame, nodes: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    // orient: keep (u, v) with (deg(u), u) < (deg(v), v)
    val oriented = sym
      .join(deg.select(col("id").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("dv")), "dst")
      .filter(col("du") < col("dv")
        || (col("du") === col("dv") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v"),
        col("dv").as("dvv"))
    // wedges (u; v, w) with v before w in the SAME orientation order,
    // closed by the oriented edge v -> w
    val e1 = oriented.select(col("u").as("wu"), col("v").as("wv"),
      col("dvv").as("dwv"))
    val e2 = oriented.select(col("u").as("wu2"), col("v").as("ww"),
      col("dvv").as("dww"))
    val tri = e1
      .join(e2, col("wu") === col("wu2")
        && (col("dwv") < col("dww")
          || (col("dwv") === col("dww") && col("wv") < col("ww"))))
      .join(oriented.select(col("u").as("wv"), col("v").as("ww")),
        Seq("wv", "ww"))
      .select(col("wu").as("a"), col("wv").as("b"), col("ww").as("c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("t"))
    nodes.select(col(idCol))
      .join(deg, col(idCol) === col("id"), "left")
      .drop("id")
      .join(perNode, col(idCol) === col("id"), "left")
      .drop("id")
      .select(col(idCol),
        coalesce(col("deg"), lit(0L)).as("degree"),
        coalesce(col("t"), lit(0L)).as("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          expr("2 * coalesce(t, 0L) * 1000000 div (deg * (deg - 1))")
            .cast("double") / 1e6).as("clustering"))
  }

  /** Degree assortativity coefficient (q311) — Newman (2002): the
    * Pearson correlation of endpoint degrees over edges. The ONE-number
    * topology read beside [[triangleCount]]'s closure: assortative
    * (r > 0, peers link peers — real communities) vs disassortative
    * (r < 0, hubs link leaves — the star/spam-farm shape). A crawl
    * graph that flips sign between snapshots changed its growth regime.
    *
    * Exactness: over the SYMMETRIZED distinct edge relation (each
    * undirected edge in both directions — the formula is invariant to
    * the doubling, all sums scale together), with M = |directed edges|,
    * A = Σ dᵤdᵥ, B = Σ(dᵤ+dᵥ), C = Σ(dᵤ²+dᵥ²), the correlation
    * closed-forms to ONE truncating division on exact integers:
    * r₆ = (4MA − B²)·10⁶ div (2MC − B²) — no per-edge quantization.
    * DECIMAL(38,0) ceiling: MA ≤ M·dmax² rides to M ≈ 10¹² edges at
    * dmax ≈ 10⁶. Degenerate regular graphs (den = 0, every degree
    * equal) → NULL.
    *
    * Scale: one degree aggregation + one broadcast degree join onto
    * edges + one global sum — never a wedge or pair term; the cost is
    * the [[triangleCount]] degree-join prefix alone.
    */
  /** Directed reciprocity (q315) — over the DIRECTED edge relation
    * (no symmetrization — direction IS the signal): the fraction of
    * links that are returned, r = |E ∩ Eᵀ|/|E|, plus Garlaschelli–
    * Loffredo's density-corrected ρ = (r − ā)/(1 − ā) with
    * ā = m/(n(n−1)) — raw r is inflated on dense graphs, ρ reads
    * reciprocity RELATIVE to chance (reply graphs: high ρ =
    * conversation, ρ ≈ 0 = broadcast, ρ < 0 = deliberate
    * non-returning, the link-scheme shape).
    *
    * Exactness: mutual-edge count by one self-equi-join on the
    * reversed key; r₆ = mutual·10⁶ div m and
    * ρ₆ = (mutual·n(n−1) − m²)·10⁶ div (m·(n(n−1) − m)) — each ONE
    * truncating division on exact DECIMAL(38,0) terms. Complete
    * digraphs (denominator 0) and m = 0 → NULL ρ.
    *
    * Scale: one equi-join + one aggregation over edges; n comes from
    * the caller's node relation — never a pair term.
    */
  def reciprocity(edges: DataFrame, nNodes: Long): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val mutual = e.alias("a").join(e.alias("b"),
      col("a.src") === col("b.dst") && col("a.dst") === col("b.src"))
      .select(col("a.src"), col("a.dst"))
    e.agg(count(lit(1)).as("_m"))
      .crossJoin(broadcast(mutual.agg(count(lit(1)).as("_mu"))))
      .withColumn("_np", lit(nNodes).cast("decimal(38,0)")
        * (lit(nNodes) - 1L))
      .withColumn("r6", when(col("_m") > 0,
        expr("_mu * 1000000 div nullif(_m, 0)")))
      .withColumn("rho6", when(col("_m") > 0
          && expr("CAST(_m AS DECIMAL(38,0)) * (_np - _m)") > 0,
        expr("""(CAST(_mu AS DECIMAL(38,0)) * _np
            - CAST(_m AS DECIMAL(38,0)) * _m) * 1000000
          div nullif(CAST(_m AS DECIMAL(38,0)) * (_np - _m), 0)""")
          .cast("long")))
      .select(col("_m").as("n_edges"), col("_mu").as("n_mutual"),
        col("r6"), col("rho6"))
  }

  def assortativity(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val deg = sym.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
    val e = sym
      .join(deg.select(col("id").as("src"), col("deg").as("_du")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("_dv")), "dst")
    e.agg(count(lit(1)).as("_m"),
        countDistinct(col("src")).as("n_nodes"),
        sum(col("_du").cast("decimal(38,0)") * col("_dv")).as("_a"),
        sum(col("_du") + col("_dv")).as("_b"),
        sum(col("_du").cast("decimal(38,0)") * col("_du")
          + col("_dv").cast("decimal(38,0)") * col("_dv")).as("_c"))
      .withColumn("_num", expr(
        """4 * CAST(_m AS DECIMAL(38,0)) * _a
           - CAST(_b AS DECIMAL(38,0)) * _b"""))
      .withColumn("_den", expr(
        """2 * CAST(_m AS DECIMAL(38,0)) * _c
           - CAST(_b AS DECIMAL(38,0)) * _b"""))
      .select(expr("_m div 2").as("n_edges"),
        col("n_nodes"),
        when(col("_den") > 0,
          expr("_num * 1000000 div nullif(_den, 0)").cast("long"))
          .as("assort6"))
  }
}
