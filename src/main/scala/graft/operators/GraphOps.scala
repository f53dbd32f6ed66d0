package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Iterative graph computation on DataFrames: fixed-iteration PageRank
  * over the customer–supplier trade graph.
  *
  * The distributed shape is the classic one: edges are the large
  * key-partitioned table, ranks are the small per-node table, and every
  * iteration is `edges ⋈ ranks → groupBy(dst)` — one shuffle per
  * iteration, partitioned the same way every time, so at 100 TB the
  * edge table's partitioning is reused and only the (tiny) rank table
  * moves. No driver-side graph, no collect; the iteration count is a
  * fixed constant, which also makes the computation expressible as an
  * unrolled CTE chain for the oracle.
  *
  * Parity: per-row contribution rank/out_degree is one IEEE division,
  * then fixed-point quantized as floor(contrib · 10¹²) and summed as
  * BIGINT — exact and order-independent, and (unlike a double→DECIMAL
  * cast, where Spark rounds and DuckDB truncates, a bias that
  * accumulates across thousands of inbound edges) identical on both
  * engines by construction. The damping update 0.15 + 0.85·s is one
  * fixed op order, so ranks are bit-identical at every iteration.
  */
object GraphOps {

  val Damping = 0.85
  val Iterations = 3
  val TopK = 20

  /** The distinct (ck, sk) customer–supplier trade pairs (INT keys —
    * the dedup shuffle moves 16 bytes per row; consumers derive string
    * prefixes or long packings AFTER the collapse). The one
    * corpus-sized exchange of the six trade-graph queries (q70, q314,
    * q338, q339, q355, q389); each builds it once, behind a lineage
    * cut. */
  private[graft] def tradePairs(s: SparkSession, dir: String): DataFrame = {
    val li = EtlOps.t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val o = EtlOps.t(s, dir, "orders").select("o_orderkey", "o_custkey")
    CurationOps.cutLineage(
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("o_custkey").as("ck"), col("l_suppkey").as("sk"))
        .distinct())
  }

  /** The undirected trade graph: distinct (customer, supplier) pairs
    * that ever traded (lineitem ⋈ orders), as directed edges both ways.
    * Node ids are prefixed ('c…'/'s…') so the two key spaces cannot
    * collide. */
  def edges(s: SparkSession, dir: String): DataFrame = {
    val cs = tradePairs(s, dir)
      .select(concat(lit("c"), col("ck")).as("c"),
        concat(lit("s"), col("sk")).as("sp"))
    cs.select(col("c").as("src"), col("sp").as("dst"))
      .unionAll(cs.select(col("sp").as("src"), col("c").as("dst")))
  }

  /** q70 — [[Iterations]]-step PageRank, top-[[TopK]] nodes. Every node
    * of the undirected graph has degree ≥ 1, so there is no dangling
    * mass and the per-iteration update is exactly
    * r'(v) = 0.15 + 0.85 · Σ_{u→v} r(u)/deg(u). */
  def pageRank(s: SparkSession, dir: String): DataFrame =
    pageRankRanks(s, dir).orderBy(col("pr").desc, col("node")).limit(TopK)

  /** One damped PageRank update from (degree-annotated edges, ranks) —
    * exposed so the spec can pin the iteration's PHYSICAL shape: with
    * [[pageRankRanks]]'s pre-partitioned cached `ew`, the join reuses
    * the cached partitioning and only the rank side (plus the dst
    * re-aggregation) exchanges. */
  private[graft] def pageRankStep(ew: DataFrame, ranks: DataFrame): DataFrame =
    ew.join(ranks, ew("src") === ranks("node"))
      .select(col("dst"),
        floor(col("pr") / col("out_deg") * lit(1e12)).cast("long")
          .as("contrib"))
      .groupBy("dst")
      .agg(sum(col("contrib")).as("sfp"))
      .select(col("dst").as("node"),
        (lit(0.15) + lit(0.85) * (col("sfp").cast("double") / lit(1e12)))
          .as("pr"))

  /** The full final rank table (one row per node) — q70 takes its
    * top-[[TopK]]; the spec checks rank-mass conservation on ALL rows
    * (Σ pr = node count at every damped iteration, up to fixed-point
    * truncation). */
  def pageRankRanks(s: SparkSession, dir: String): DataFrame = {
    // Degree-annotated edges in ONE exchange: the out-degree rides a
    // whole-partition window over hashpartitioning(src) — the exact
    // partitioning every iteration's join needs — and the cached
    // InMemoryRelation advertises it, so each iteration's sort-merge/
    // shuffled-hash join leaves the big table in place and moves only
    // the rank table. The previous build (deg groupBy + join +
    // explicit repartition) moved the FULL edge table through three
    // exchanges for the identical result — the dominant cost at 100 TB,
    // where the edge table is the large side. (When ranks are small
    // enough Spark broadcasts them and neither side moves; the
    // pre-partitioning is what keeps the join edge-side-exchange-free
    // once ranks outgrow broadcast.)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val ew = edges(s, dir)
      .withColumn("out_deg", count(lit(1)).over(w))
      .persist()
    // initial ranks: one row per source node, derived from the cached
    // ew (dropDuplicates over its own hash partitioning — no exchange);
    // every rank generation is a lineage cut
    val (ranks, _) = CurationOps.iterateCut(
      ew.select(col("src").as("node")).dropDuplicates("node")
        .select(col("node"), lit(1.0).as("pr")), Iterations)(
      (g, _) => pageRankStep(ew, g))
    // ew is dead once the final generation is materialized — free it so
    // long-lived sessions (libraries, notebooks) don't pin the edge
    // table in storage
    ew.unpersist()
    ranks.last
  }

  /** The DuckDB oracle: the identical computation as an unrolled CTE
    * chain (r0 → r1 → … → r[[Iterations]]), generated from the same
    * constants so the two sides cannot drift. */
  def pageRankOracle: String = {
    val iters = (1 to Iterations).map { i =>
      s"""r$i AS (SELECT dst AS node,
         |    0.15 + 0.85 * (CAST(CAST(sum(CAST(floor(pr / out_deg * 1000000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000000.0) AS pr
         |  FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    's' || CAST(l_suppkey AS VARCHAR) AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, sp AS dst FROM cs
       |      UNION ALL SELECT sp AS src, c AS dst FROM cs),
       |deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
       |ew AS (SELECT e.src, e.dst, deg.out_deg FROM e JOIN deg USING (src)),
       |r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) AS pr FROM deg),
       |$iters
       |SELECT node, pr FROM r$Iterations
       |ORDER BY pr DESC, node LIMIT $TopK""".stripMargin
  }

  // --- q314: personalized PageRank ----------------------------------------

  /** Seed-set size for the personalized teleport. */
  val PprSeeds = 4

  /** q314 — personalized PageRank from a seed set (the [[PprSeeds]]
    * highest-degree nodes, ties by id): teleport mass returns to the
    * SEEDS only, scaled |V|/|S| so total rank mass stays comparable to
    * q70's uniform run — the "related entities" primitive (who is
    * close to THESE accounts, not who is globally central). Same
    * damped iterate-by-join engine as q70: the degree-annotated edge
    * table is cached pre-partitioned on src and never moves; only the
    * rank table exchanges.
    *
    * Parity: the q70 fixed-point discipline verbatim — per-edge
    * contributions floor to ×10¹² BIGINT (order-free), the teleport
    * term is one fixed-order double expression, iterations are
    * unrolled CTEs in the oracle from the same constants.
    *
    * Scale (100 TB): identical to q70 — one edge-side exchange total
    * across all iterations; the seed set is a broadcast literal-sized
    * frame; rank mass concentrates near seeds so the top-k window is
    * as cheap as q70's. */
  def personalizedPageRank(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("src")
    val ew = edges(s, dir)
      .withColumn("out_deg", count(lit(1)).over(w))
      .persist()
    // |V| — a scalar, observed on the node cut
    val (nodes, Seq(nv)) = CurationOps.cutObserved(
      ew.select(col("src").as("node")).dropDuplicates("node"),
      count(lit(1)))
    // cut once, so no rank generation and not the final action (which
    // runs after ew is freed) re-derives the seeds from the edges
    val seeds = CurationOps.cutLineage(ew.groupBy("src")
      .agg(max(col("out_deg")).as("deg"))
      .orderBy(col("deg").desc, col("src")).limit(PprSeeds)
      .select(col("src").as("node"), lit(true).as("seed")))
    val teleport = 0.15 * nv.toDouble / PprSeeds
    // initial ranks: all mass on the seeds (the personalized start)
    val (ranks, _) = CurationOps.iterateCut(
      nodes.join(broadcast(seeds), Seq("node"), "left")
        .select(col("node"),
          when(col("seed"), lit(nv.toDouble / PprSeeds))
            .otherwise(lit(0.0)).as("pr")), Iterations) { (gen, _) =>
      ew.join(gen, ew("src") === gen("node"))
        .select(col("dst"),
          floor(col("pr") / col("out_deg") * lit(1e12)).cast("long")
            .as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).as("sfp"))
        .join(broadcast(seeds), col("dst") === seeds("node"), "left")
        .select(col("dst").as("node"),
          (when(col("seed"), lit(teleport)).otherwise(lit(0.0)) +
            lit(0.85) * (col("sfp").cast("double") / lit(1e12))).as("pr"))
    }
    ew.unpersist()
    ranks.last.join(broadcast(seeds), Seq("node"), "left")
      .orderBy(col("pr").desc, col("node")).limit(TopK)
      .select(col("node"), round(col("pr"), 6).as("ppr"),
        coalesce(col("seed"), lit(false)).as("is_seed"))
  }

  def personalizedPageRankOracle: String = {
    val iters = (1 to Iterations).map { i =>
      s"""r$i AS (SELECT j.dst AS node,
         |    (CASE WHEN sd.node IS NOT NULL THEN tp.t ELSE 0.0 END) +
         |      0.85 * (CAST(CAST(sum(CAST(floor(j.pr / j.out_deg
         |        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE)
         |        / 1000000000000.0) AS pr
         |  FROM (SELECT ew.dst, r${i - 1}.pr, ew.out_deg
         |        FROM ew JOIN r${i - 1} ON ew.src = r${i - 1}.node) j
         |  LEFT JOIN seeds sd ON sd.node = j.dst, tp
         |  GROUP BY j.dst, sd.node, tp.t)""".stripMargin
    }.mkString(",\n")
    s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    's' || CAST(l_suppkey AS VARCHAR) AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, sp AS dst FROM cs
       |      UNION ALL SELECT sp AS src, c AS dst FROM cs),
       |deg AS (SELECT src, count(*) AS out_deg FROM e GROUP BY src),
       |ew AS (SELECT e.src, e.dst, deg.out_deg FROM e JOIN deg USING (src)),
       |nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
       |seeds AS (SELECT src AS node FROM deg
       |  ORDER BY out_deg DESC, src LIMIT $PprSeeds),
       |tp AS (SELECT 0.15 * n / $PprSeeds AS t, n FROM nv),
       |r0 AS (SELECT deg.src AS node,
       |    CASE WHEN sd.node IS NOT NULL THEN tp.n / $PprSeeds
       |      ELSE 0.0 END AS pr
       |  FROM deg LEFT JOIN seeds sd ON sd.node = deg.src, tp),
       |$iters
       |SELECT r.node, round(r.pr, 6) AS ppr,
       |  sd.node IS NOT NULL AS is_seed
       |FROM r$Iterations r LEFT JOIN seeds sd ON sd.node = r.node
       |ORDER BY r.pr DESC, r.node LIMIT $TopK""".stripMargin
  }

  // --- q319: label-propagation communities + modularity -------------------

  /** Synchronous LPA iterations (fixed, unrolled in the oracle). At 4
    * the co-activity fixture settles to 3 communities (107/42/1 at
    * sf0.01 — measured); more iterations only merge further. */
  val LpaIters = 4

  /** q319 — label-propagation community detection (Raghavan et al.
    * 2007) over the q307 co-activity graph, with Newman modularity as
    * the quality readout: each node adopts the most frequent label
    * among its neighbors (ties → smallest label), synchronously, for
    * [[LpaIters]] rounds. Communities are DENSITY structure — q59's
    * connected components answer "what is reachable" (this graph is
    * one component), LPA answers "where are the social clusters", and
    * modularity Q = Σ_c [m_c/m − (d_c/2m)²] says whether the split
    * beats random expectation. The audit a cohort/abuse team runs
    * before treating co-activity as community evidence.
    *
    * Parity: label counts are exact integers and the per-node argmax
    * is one exact `max(struct(cnt, -nlbl))` aggregate — the largest
    * count, ties to the smallest label, the oracle's rank window order;
    * modularity's per-community term freezes to ×1e9 BIGINT before the
    * cross-community sum; m, m_c, d_c are exact integers, and m is half
    * the degree sum observed on the degree cut.
    *
    * Scale (100 TB): per iteration ONE hash join of the session's arcs
    * ([[cooccurArcs]], partitioned on `dst`, never re-shuffled) against
    * the |V|-row label cut plus a (node, label) count collapse and the
    * argmax aggregate; the q70 iterate-by-join discipline with a lineage
    * cut per round. Degrees group the arcs on `dst` (by symmetry, the
    * same degrees), also with no exchange. The modularity tail is two
    * |E|/|V|-bounded joins against the final labels. */
  def lpaCommunities(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = cooccurEdges(s, dir)
    val edges = cooccurArcs(s, dir)
    val (deg, Seq(degSum)) = CurationOps.cutObserved(
      edges.groupBy(col("dst").as("node")).agg(count(lit(1)).as("deg")),
      sum(col("deg")))
    val m = degSum / 2 // |undirected edges| — a scalar
    // generation 0 is the first round over the identity labels
    val labels = CurationOps.iterateCut(
      lpaRound(edges, deg.select(col("node"), col("node").as("lbl"))),
      LpaIters - 1)((g, _) => lpaRound(edges, g))._1.last
    val comm = labels.join(deg, "node")
      .groupBy("lbl").agg(count(lit(1)).as("size"),
        sum(col("deg")).as("d_c"))
    val intra = und
      .join(labels.select(col("node").as("ua"), col("lbl").as("la")), "ua")
      .join(labels.select(col("node").as("ub"), col("lbl").as("lb")), "ub")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("m_c"))
    val terms = comm.join(intra, Seq("lbl"), "left")
      .withColumn("m_c", coalesce(col("m_c"), lit(0L)))
      .withColumn("q_fp", floor(
        (col("m_c").cast("double") / lit(m.toDouble) -
          (col("d_c").cast("double") / lit(2.0 * m)) *
            (col("d_c").cast("double") / lit(2.0 * m))) * lit(1e9))
        .cast("long"))
    val wAll = Window.partitionBy(lit(1))
    terms
      .withColumn("size_band", expr("least(size div 20, 6L)"))
      .groupBy("size_band")
      .agg(count(lit(1)).as("n_communities"),
        sum(col("size")).as("n_nodes"),
        sum(col("m_c")).as("intra_edges"),
        sum(col("q_fp")).as("q_fp"))
      .withColumn("modularity",
        round(sum(col("q_fp")).over(wAll).cast("double") / lit(1e9), 6))
      .withColumn("n_communities_total",
        sum(col("n_communities")).over(wAll))
      .select(col("size_band"), col("n_communities"), col("n_nodes"),
        col("intra_edges"), col("n_communities_total"), col("modularity"))
      .orderBy("size_band")
  }

  /** One synchronous LPA round, exposed for the plan pin. */
  private[graft] def lpaRound(edges: DataFrame, labels: DataFrame)
      : DataFrame =
    edges
      .join(labels.select(col("node").as("dst"), col("lbl").as("nlbl"))
        .hint("shuffle_hash"), "dst")
      .groupBy(col("src").as("node"), col("nlbl"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("node")
      .agg(max(struct(col("cnt"), (-col("nlbl")).as("neg"))).as("top"))
      .select(col("node"), (-col("top.neg")).as("lbl"))

  def lpaCommunitiesOracle: String = {
    val iters = (1 to LpaIters).map { i =>
      s"""l$i AS (SELECT node, nlbl AS lbl FROM (
         |  SELECT e.src AS node, l.lbl AS nlbl, count(*) AS cnt,
         |    row_number() OVER (PARTITION BY e.src
         |      ORDER BY count(*) DESC, l.lbl) AS rk
         |  FROM ed e JOIN l${i - 1} l ON l.node = e.dst
         |  GROUP BY e.src, l.lbl) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |und AS (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |ed AS (SELECT ua AS src, ub AS dst FROM und
       |      UNION ALL SELECT ub, ua FROM und),
       |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM ed),
       |$iters,
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |  FROM ed GROUP BY src),
       |comm AS (SELECT l.lbl, CAST(count(*) AS BIGINT) AS sz,
       |    CAST(sum(deg.deg) AS BIGINT) AS d_c
       |  FROM l$LpaIters l JOIN deg USING (node) GROUP BY l.lbl),
       |intra AS (SELECT la.lbl, CAST(count(*) AS BIGINT) AS m_c
       |  FROM und
       |  JOIN l$LpaIters la ON la.node = und.ua
       |  JOIN l$LpaIters lb ON lb.node = und.ub
       |  WHERE la.lbl = lb.lbl GROUP BY la.lbl),
       |terms AS (SELECT comm.lbl, comm.sz, comm.d_c,
       |    coalesce(intra.m_c, 0) AS m_c,
       |    CAST(floor((CAST(coalesce(intra.m_c, 0) AS DOUBLE)
       |        / CAST(mm.m AS DOUBLE)
       |      - (CAST(comm.d_c AS DOUBLE) / (2.0 * mm.m))
       |        * (CAST(comm.d_c AS DOUBLE) / (2.0 * mm.m))) * 1e9)
       |      AS BIGINT) AS q_fp
       |  FROM comm LEFT JOIN intra USING (lbl), mm),
       |bands AS (SELECT least(sz // 20, 6) AS size_band,
       |    count(*) AS n_communities,
       |    CAST(sum(sz) AS BIGINT) AS n_nodes,
       |    CAST(sum(m_c) AS BIGINT) AS intra_edges,
       |    CAST(sum(q_fp) AS BIGINT) AS q_fp
       |  FROM terms GROUP BY 1)
       |SELECT size_band, n_communities, n_nodes, intra_edges,
       |  CAST(sum(n_communities) OVER () AS BIGINT)
       |    AS n_communities_total,
       |  round(CAST(sum(q_fp) OVER () AS DOUBLE) / 1e9, 6) AS modularity
       |FROM bands ORDER BY size_band""".stripMargin
  }

  // --- q86: mutual-kNN graph clustering ---------------------------------

  /** kNN-graph corpus cap, neighbor count, and LSH plane count. The
    * candidate pass is LSH-bucketed (below), so the cap is a guard rail,
    * not a scalability crutch — it sits above every test corpus and a
    * 10× raise only grows the per-bucket quadratic by 100/2^planes.
    * Planes scale as log₂(n / target_bucket_size): 5 planes → 32
    * buckets keeps mean buckets ≳ 2k at the sf corpus sizes (500–2000
    * vectors) AND matches the executor thread count (the bucket join's
    * parallelism ceiling is the bucket count — 16 buckets left half of
    * a 32-core session idle, measured 1.8× slower calibrated); a 100 TB corpus
    * raises
    * planes, not the algorithm. A singleton bucket just yields a
    * neighborless vector — semantically fine, replayed identically by
    * the oracle. */
  val KnnCap = 2560
  val KnnK = 6
  val KnnPlanes = 5

  /** Candidates that survive the projected-space prefilter, per query
    * point. 4·k keeps per-edge recall high (the spec gates it against
    * brute force) while cutting the 64-dim exact-cosine work to a
    * k-proportional sliver of each bucket. */
  val KnnPrefilter = 4 * KnnK

  private def knnVectors(s: SparkSession, dir: String): DataFrame =
    SimilarityOps.withNorm(
      SimilarityOps.baseVectors(s, dir).filter(col("vec_id") < KnnCap))

  /** Per-query-point top-`k` selection: `row_number() OVER
    * (PARTITION BY qa ORDER BY key DESC, qb)` ≤ k, on rows that carry
    * ONLY (qa, qb, key). The slim payload matters: the old q86 ran
    * this window over rows still dragging both 64-dim embeddings
    * through the exchange, which was 2.4 s of its 5.6 s at sf0.1 —
    * here the vectors live behind the checkpoint and rejoin later.
    * (A collect_list/slice/explode aggregate form was measured too:
    * its Generate node sends the optimizer's InferFiltersFromGenerate
    * rule into a 10 s stall on this plan, so the window form wins.) */
  private def topKBy(df: DataFrame, key: String, k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qa")).orderBy(col(key).desc, col("qb"))
    df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("qa", "qb")
  }

  /** kNN edge list, LSH-bucketed (the q35 candidate pattern) with a
    * projected-space prefilter: each vector's neighbors are its
    * top-[[KnnK]] cosines among bucket-mates, but the exact 64-dim
    * cosine is only evaluated for the top-[[KnnPrefilter]] bucket-mates
    * under the 16-dim q112 JL projection. Candidate volume is
    * Σ|bucket|² ≈ n²/2^planes instead of n² — the scale knob is the
    * plane count — and the prefilter caps the expensive stage at
    * [[KnnPrefilter]]·n pairs no matter how big buckets get, paying
    * only the 4×-cheaper projected dot per bucket pair. `planes = 0`
    * degenerates to one bucket ≡ all-pairs; with the prefilter also
    * disabled (≥ corpus) that is exact kNN, which the spec uses to pin
    * equivalence against [[knnEdgesBrute]]; a second spec gates the
    * default configuration's recall against brute force. Bucket
    * equality is symmetric, so the mutual filter downstream stays
    * well-defined. */
  def knnEdgesLsh(s: SparkSession, dir: String,
      planes: Int = KnnPlanes,
      prefilter: Int = KnnPrefilter): DataFrame = {
    // The 16 projection components live in ONE array<double> column and
    // every projected dot/norm below goes through the native
    // [[graft.functions.DotProduct]] expression. Two reasons: (a) its
    // left-associated IEEE order is exactly the oracle's generated
    // d01*d01 + ... chain, so parity holds; (b) sixteen separate chain
    // columns crossing the a/b self-join sent the optimizer's
    // constraint machinery (PruneFilters) into a 15 s driver-side
    // stall re-canonicalizing alias constraints per predicate — one
    // opaque array column keeps the constraint set constant-size.
    val proj = array((1 to SimilarityOps.ProjDims)
      .map(VecSql.projCol(col("emb"), _)): _*)
    // a lineage cut, not persist: a persisted frame still carries the
    // signature + projection subtree into every downstream self-join
    // branch — Catalyst re-canonicalizes each copy per optimizer pass
    // and DRIVER planning time, not execution, dominated the composed
    // query (measured 20 s of q86's 24 s at sf0.1 when the components
    // were 64-term chains). Checkpointing cuts the lineage to a
    // LogicalRDD, so every downstream plan is constant-size. The index
    // build runs once, eagerly, through CurationOps.cutLineage
    // (localCheckpoint, or a reliable checkpoint when a checkpoint dir
    // is configured). pnorm is derived in a second step so
    // CollapseProject can't inline the 16 components into the sqrt
    // inside v0's own plan.
    val v0 = CurationOps.cutLineage(knnVectors(s, dir).select(col("vec_id"),
      col("emb"), col("norm"), VecSql.lshSigCol(col("emb"), planes).as("bucket"),
      proj.as("proj")))
    val v = v0.selectExpr("vec_id", "bucket", "proj",
      "sqrt(dot_product(proj, proj)) AS pnorm")
    val a = v.select(col("vec_id").as("qa"), col("bucket"),
      col("proj").as("proj_a"), col("pnorm").as("pnorm_a"))
    val b = v.select(col("vec_id").as("qb"), col("bucket"),
      col("proj").as("proj_b"), col("pnorm").as("pnorm_b"))
    val cand = a.join(b, Seq("bucket")).filter(col("qa") =!= col("qb"))
      .selectExpr("qa", "qb",
        "dot_product(proj_a, proj_b) / (pnorm_a * pnorm_b) AS pcos")
    val pre = topKBy(cand, "pcos", prefilter)
    // exact cosines only for prefilter survivors: two slim joins back
    // to the checkpointed vector table on its key
    val exact = pre
      .join(v0.select(col("vec_id").as("qa"), col("emb").as("emb_a"),
        col("norm").as("norm_a")), Seq("qa"))
      .join(v0.select(col("vec_id").as("qb"), col("emb").as("emb_b"),
        col("norm").as("norm_b")), Seq("qb"))
      .selectExpr("qa", "qb",
        "dot_product(emb_a, emb_b) / (norm_a * norm_b) AS cos")
    topKBy(exact, "cos", KnnK)
  }

  /** Exact all-pairs kNN edges — the spec-only equivalence oracle for
    * [[knnEdgesLsh]] (the q32 simhash pattern: keep the quadratic form
    * OUT of the query surface, use it to certify the banded one). */
  def knnEdgesBrute(s: SparkSession, dir: String): DataFrame = {
    val v = knnVectors(s, dir)
    val a = v.select(col("vec_id").as("qa"), col("emb").as("emb_a"),
      col("norm").as("norm_a"))
    val b = v.select(col("vec_id").as("qb"), col("emb").as("emb_b"),
      col("norm").as("norm_b"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qa")).orderBy(col("cos").desc, col("qb"))
    a.crossJoin(b).filter(col("qa") =!= col("qb"))
      .selectExpr("qa", "qb",
        "dot_product(emb_a, emb_b) / (norm_a * norm_b) AS cos")
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK)
      .select("qa", "qb")
  }

  /** q86 — local clustering structure of the mutual-kNN embedding
    * graph: connect vectors that list EACH OTHER in their top-[[KnnK]]
    * cosine neighbors, then per node report degree, triangle count, and
    * local clustering coefficient 2·tri/(deg·(deg−1)) — the standard
    * embedding-space cohesion diagnostic (a high coefficient marks
    * tight near-dup clusters; a near-zero one, uniform noise).
    *
    * Distributed shape: the kNN pass is LSH-bucketed
    * ([[knnEdgesLsh]] — no cartesian anywhere in the plan); the
    * mutuality check and the triangle join key on edge endpoints — the
    * mutual edge set is ~k·n and sparse BY CONSTRUCTION (mutual top-k
    * bounds degree at k), which is what keeps the triangle join linear
    * in edges where a co-occurrence projection explodes.
    *
    * Parity: cosine chains are the generated fixed-order expressions
    * and the bucket signature is the dialect-shared [[VecSql.lshSig]],
    * so the oracle replays the identical bucketed build;
    * degree/triangle counts are BIGINT; the coefficient is one
    * BIGINT/BIGINT float division on both engines. */
  def knnGraphStats(s: SparkSession, dir: String): DataFrame =
    mutualGraphStats(knnEdgesLsh(s, dir))

  /** The graph math downstream of ANY kNN edge list (LSH-bucketed or
    * brute): mutual filter → degree, triangles, clustering coefficient. */
  def mutualGraphStats(knn: DataFrame): DataFrame = {
    // the kNN edge list feeds BOTH sides of the mutuality self-join,
    // and mut feeds the degree union twice plus the triangle join three
    // times. Cut the lineage of both (they are ~k·n and smaller slim
    // tables): a merely-persisted frame keeps its full logical subtree,
    // which (a) Catalyst re-optimizes per consumer branch and (b) Spark
    // recomputes CONCURRENTLY from independent downstream stages that
    // all start before any of them has populated the cache — measured
    // as a 3× blowup of the composed q86. Checkpointing materializes
    // each exactly once and truncates every consumer's plan.
    val knnC = CurationOps.cutLineage(knn)
    val mut = CurationOps.cutLineage(knnC.as("x")
      .join(knnC.as("y"),
        col("x.qa") === col("y.qb") && col("x.qb") === col("y.qa"))
      .filter(col("x.qa") < col("x.qb"))
      .select(col("x.qa").as("s1"), col("x.qb").as("s2")))
    val tri = mut.as("e1")
      .join(mut.as("e2"), col("e1.s2") === col("e2.s1"))
      .join(mut.as("e3"),
        col("e3.s1") === col("e1.s1") && col("e3.s2") === col("e2.s2"))
      .select(col("e1.s1").as("ta"), col("e1.s2").as("tb"),
        col("e2.s2").as("tc"))
    val deg = mut.select(col("s1").as("node"))
      .unionAll(mut.select(col("s2").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val tn = tri.select(col("ta").as("node"))
      .unionAll(tri.select(col("tb").as("node")))
      .unionAll(tri.select(col("tc").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(tn, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .withColumn("coef",
        when(col("deg") >= 2,
          (lit(2) * col("n_tri")) / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)))
      .orderBy("node")
  }

  /** The DuckDB oracle for q86: the same LSH-bucketed, projection-
    * prefiltered kNN → mutual → triangle pipeline — bucket signature,
    * projection components, and cosine chains are the dialect-shared
    * generated expressions, so both engines build the identical graph
    * (the prefilter is part of the operator's definition and is
    * replayed exactly; its recall vs exact kNN is gated separately in
    * the spec). */
  def knnGraphOracle: String = {
    import VecSql.dot
    val pd = SimilarityOps.ProjDims
    val proj = (1 to pd).map { p =>
      f"${VecSql.projComp("emb", p)} AS d$p%02d"
    }.mkString(",\n    ")
    val pnorm = "sqrt(" + (1 to pd).map(p => f"d$p%02d * d$p%02d")
      .mkString(" + ") + ")"
    val pdot = (1 to pd).map(p => f"a.d$p%02d * b.d$p%02d").mkString(" + ")
    s"""WITH v0 AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
       |  FROM embeddings WHERE vec_id < $KnnCap),
       |v1 AS (SELECT vec_id, emb,
       |    sqrt(${dot("emb", "emb", spark = false)}) AS norm,
       |    ${VecSql.lshSig("emb", KnnPlanes)} AS bucket,
       |    $proj
       |  FROM v0),
       |v AS (SELECT *, $pnorm AS pnorm FROM v1),
       |c AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
       |    ($pdot) / (a.pnorm * b.pnorm) AS pcos
       |  FROM v a JOIN v b ON a.bucket = b.bucket
       |    AND a.vec_id <> b.vec_id),
       |pr AS (SELECT qa, qb, row_number() OVER (
       |    PARTITION BY qa ORDER BY pcos DESC, qb) AS prnk FROM c),
       |s AS (SELECT pre.qa, pre.qb,
       |    (${dot("a.emb", "b.emb", spark = false)}) / (a.norm * b.norm) AS cos
       |  FROM (SELECT qa, qb FROM pr WHERE prnk <= $KnnPrefilter) pre
       |  JOIN v a ON pre.qa = a.vec_id
       |  JOIN v b ON pre.qb = b.vec_id),
       |r AS (SELECT qa, qb, row_number() OVER (
       |    PARTITION BY qa ORDER BY cos DESC, qb) AS rnk FROM s),
       |knn AS (SELECT qa, qb FROM r WHERE rnk <= $KnnK),
       |mut AS (SELECT x.qa AS s1, x.qb AS s2 FROM knn x
       |  JOIN knn y ON x.qa = y.qb AND x.qb = y.qa WHERE x.qa < x.qb),
       |tr3 AS (SELECT e1.s1 AS ta, e1.s2 AS tb, e2.s2 AS tc
       |  FROM mut e1 JOIN mut e2 ON e1.s2 = e2.s1
       |  JOIN mut e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2),
       |dg AS (SELECT node, count(*) AS deg FROM (
       |    SELECT s1 AS node FROM mut UNION ALL SELECT s2 FROM mut) u
       |  GROUP BY node),
       |tn AS (SELECT node, count(*) AS n_tri FROM (
       |    SELECT ta AS node FROM tr3 UNION ALL SELECT tb FROM tr3
       |    UNION ALL SELECT tc FROM tr3) u
       |  GROUP BY node)
       |SELECT dg.node, dg.deg, coalesce(tn.n_tri, 0) AS n_tri,
       |  CASE WHEN dg.deg >= 2
       |    THEN (2 * coalesce(tn.n_tri, 0)) / (dg.deg * (dg.deg - 1))
       |    ELSE 0.0 END AS coef
       |FROM dg LEFT JOIN tn USING (node) ORDER BY node""".stripMargin
  }

  // --- q214: rare-term co-occurrence graph ---------------------------------

  /** A term is "rare" when its document frequency is in [2, cap];
    * edges need at least this many shared rare terms. */
  val RareDfCap = 4L
  val MinSharedRare = 2L

  /** q214 — rare-term co-occurrence linking: documents sharing ≥
    * [[MinSharedRare]] terms of document frequency ≤ [[RareDfCap]] are
    * edges; connected components are document families invisible to
    * lexical dedup — citation rings, mirrored articles with rewritten
    * prose, template families keyed by the same odd identifiers. The
    * classic entity-linking-by-rare-token trick (and the reason
    * "rare" is load-bearing at 100 TB: the df cap bounds the per-term
    * join fanout at cap², so the pair join is Σ_rare df² ≤ cap·|rare
    * occurrences| — never corpus²; common terms, which would explode
    * it, are by definition not linking evidence).
    *
    * The fixture corpus draws from a CLOSED ~31-word pool (min df 25),
    * so rare terms are PLANTED (q149/q191 pattern): every doc with
    * doc_id ≡ 0,1,2 (mod 97) gains two `rt<k>a rt<k>b` tokens shared
    * by exactly its 3-doc group — df 3, pairwise shared 2, expected
    * components of exactly 3 docs. Components close via the ONE
    * propagateLabels engine (q59/q110/q116/q169).
    *
    * Parity: integer counting; the oracle replays the closure as a
    * recursive CTE (the q59 convention). */
  def rareTermGraph(s: SparkSession, dir: String): DataFrame = {
    val docs = EtlOps.t(s, dir, "documents").select(col("doc_id"),
      col("source"),
      when(col("doc_id") % 97 < 3,
        concat(col("text"), lit(" rt"), expr("doc_id div 97").cast("string"),
          lit("a rt"), expr("doc_id div 97").cast("string"), lit("b")))
        .otherwise(col("text")).as("text"))
      .persist()
    val dt = docs.select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    val dfc = dt.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= RareDfCap)
      .select("term")
    val rare = dt.join(dfc, "term")
    val pairs = rare.as("a").join(rare.as("b"),
        col("a.term") === col("b.term") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= MinSharedRare)
      .select("doc_a", "doc_b")
    val lab = CurationOps.propagateLabels(pairs,
      docs.select(col("doc_id")))
    lab.join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("lbl").as("component_id"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .filter(col("n_docs") >= 2)
      .orderBy("component_id")
  }

  def rareTermGraphOracle: String =
    s"""WITH RECURSIVE dd AS (SELECT doc_id, source,
       |    CASE WHEN doc_id % 97 < 3
       |      THEN text || ' rt' || CAST(doc_id // 97 AS VARCHAR) || 'a rt'
       |        || CAST(doc_id // 97 AS VARCHAR) || 'b'
       |      ELSE text END AS text
       |  FROM documents),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM dd),
       |dt AS (SELECT DISTINCT doc_id, term FROM tok),
       |dfc AS (SELECT term FROM (SELECT term, count(*) AS df FROM dt
       |  GROUP BY term) WHERE df >= 2 AND df <= $RareDfCap),
       |rare AS (SELECT doc_id, term FROM dt JOIN dfc USING (term)),
       |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM rare a JOIN rare b
       |    ON a.term = b.term AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $MinSharedRare),
       |e AS (SELECT doc_a AS a, doc_b AS b FROM p
       |      UNION ALL SELECT doc_b, doc_a FROM p),
       |r AS (SELECT doc_id AS node, doc_id AS lbl FROM dd
       |      UNION
       |      SELECT e.b, r.lbl FROM r JOIN e ON e.a = r.node),
       |lab AS (SELECT node, min(lbl) AS component_id FROM r GROUP BY node)
       |SELECT l.component_id, count(*) AS n_docs,
       |  CAST(count(DISTINCT d.source) AS BIGINT) AS n_sources
       |FROM lab l JOIN dd d ON d.doc_id = l.node
       |GROUP BY l.component_id HAVING count(*) >= 2
       |ORDER BY l.component_id""".stripMargin

  // --- q229: incremental connected-components maintenance -----------------

  /** Family count for the deterministic maintenance graph, and the
    * "new node" arrival predicate modulus (doc_id % 4 = 0 → 25% of
    * nodes arrive in the batch). */
  val IncrCcFamilies = 60
  val IncrCcNewMod = 4

  /** q229 — incremental connected-components maintenance: a standing
    * dedup-cluster assignment must absorb a NEW batch of nodes/edges
    * without re-clustering the corpus (q59 full CC is O(corpus); the
    * arrival batch is not). The algorithm is graph condensation: run CC
    * once over the SUPER-graph whose vertices are old cluster LABELS
    * plus new node ids and whose edges are the batch edges with old
    * endpoints replaced by their standing label — a graph sized by the
    * touched clusters, not the corpus — then compose: final(old) =
    * super(base(old)), final(new) = super(new). Min-label closure makes
    * the composition EQUAL the full rebuild (each base label is its
    * part's min, so the super-min is the global min), and the operator
    * proves it: `incr_agrees` compares the composed labels against a
    * full-rebuild ground truth node-by-node. The graph is a
    * deterministic hash-family star (every node linked to its family's
    * lowest doc_id); batch edges are exactly those touching a new
    * node, so a new hub's arrival fuses the old members it orphaned
    * into one cluster and every outcome class is real: `merged` (≥2
    * standing clusters fused by an arrival), `grown` (one cluster
    * absorbed new nodes), `unchanged`, `new_cluster` (all-new
    * component).
    *
    * Parity: the oracle rebuilds base and full labels with two
    * recursive min-label CTEs (the q59 pattern) and reproduces the
    * outcome rollup; `incr_agrees` is pinned TRUE in the oracle — any
    * composition bug hash-fails the row.
    *
    * Scale (100 TB): the full rebuild here is the AUDIT, not the
    * algorithm. Production cost is propagation over the condensed
    * super-graph: |batch edges| + |touched labels| rows — the standing
    * labels never reshuffle, and the composition is two hash joins on
    * the label key. This is how a daily ingest maintains a corpus-scale
    * near-dup partition in batch time. */
  def incrementalCc(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nodes = EtlOps.t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % IncrCcNewMod === 0).as("is_new"),
        (call_function("md5_fp60",
          concat(lit("fam:"), col("doc_id").cast("string")))
          % IncrCcFamilies).as("fam"))
      .persist()
    // star topology (family-first hub): component diameter 2, so every
    // propagation fixpoint lands in ~2 rounds — a chain fixture costs
    // diameter-many rounds of pure driver scheduling on these tiny
    // frames (measured 36 s vs 9 s at sf0.1), the q188 lesson
    val w = Window.partitionBy("fam").orderBy("doc_id")
    val edges = nodes
      .withColumn("hub", first(col("doc_id")).over(w))
      .withColumn("hub_new", first(col("is_new")).over(w))
      .filter(col("hub") =!= col("doc_id"))
      .select(col("hub").as("doc_a"), col("doc_id").as("doc_b"),
        (col("hub_new") || col("is_new")).as("touches_new"))
      .persist()
    val oldNodes = nodes.filter(!col("is_new")).select("doc_id")
    val baseEdges = edges.filter(!col("touches_new"))
      .select("doc_a", "doc_b")
    val batchEdges = edges.filter(col("touches_new"))
      .select("doc_a", "doc_b")
    val baseLab = CurationOps.propagateLabels(baseEdges, oldNodes)
      .persist()
    // condensation: old endpoints → standing labels, new stay themselves
    val superEdges = batchEdges
      .join(baseLab.select(col("doc_id").as("doc_a"),
        col("lbl").as("la")), Seq("doc_a"), "left")
      .join(baseLab.select(col("doc_id").as("doc_b"),
        col("lbl").as("lb")), Seq("doc_b"), "left")
      .select(coalesce(col("la"), col("doc_a")).as("doc_a"),
        coalesce(col("lb"), col("doc_b")).as("doc_b"))
    val superNodes = superEdges.select(col("doc_a").as("doc_id"))
      .unionAll(superEdges.select(col("doc_b").as("doc_id"))).distinct()
    val superLab = CurationOps.propagateLabels(superEdges, superNodes)
      .persist()
    // compose: untouched base labels / isolated new nodes pass through
    val incr = baseLab
      .join(superLab.select(col("doc_id").as("lbl"),
        col("lbl").as("slbl")), Seq("lbl"), "left")
      .select(col("doc_id"), coalesce(col("slbl"), col("lbl"))
        .as("lbl_incr"))
      .unionAll(nodes.filter(col("is_new")).select("doc_id")
        .join(superLab.select(col("doc_id"), col("lbl").as("slbl")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("slbl"), col("doc_id"))
          .as("lbl_incr")))
    val fullLab = CurationOps.propagateLabels(
      edges.select("doc_a", "doc_b"), nodes.select("doc_id")).persist()
    // the audit scalar: composed incremental labels == full rebuild
    val mismatches = incr.join(fullLab, "doc_id")
      .filter(col("lbl_incr") =!= col("lbl")).count()
    val members = fullLab
      .join(nodes.select(col("doc_id"), col("is_new")), "doc_id")
      .join(baseLab.select(col("doc_id"), col("lbl").as("base_lbl")),
        Seq("doc_id"), "left")
    members.groupBy("lbl")
      .agg(count(lit(1)).as("nn"),
        sum(when(col("is_new"), 1L).otherwise(0L)).as("nw"),
        countDistinct(col("base_lbl")).as("parts"))
      .withColumn("outcome",
        when(col("parts") >= 2, "merged")
          .when(col("parts") === 1 && col("nw") > 0, "grown")
          .when(col("parts") === 1, "unchanged")
          .otherwise("new_cluster"))
      .groupBy("outcome")
      .agg(count(lit(1)).as("n_clusters"), sum(col("nn")).as("n_nodes"),
        sum(col("nw")).as("n_new_nodes"),
        sum(col("parts")).as("n_base_parts"))
      .withColumn("incr_agrees", lit(mismatches == 0L))
      .orderBy("outcome")
  }

  def incrementalCcOracle: String =
    s"""WITH RECURSIVE n AS (SELECT doc_id,
       |    doc_id % $IncrCcNewMod = 0 AS is_new,
       |    CAST('0x' || substr(md5('fam:' || CAST(doc_id AS VARCHAR)),
       |      1, 15) AS BIGINT) % $IncrCcFamilies AS fam
       |  FROM documents),
       |ed AS (SELECT
       |    first_value(doc_id) OVER (PARTITION BY fam ORDER BY doc_id)
       |      AS doc_a,
       |    doc_id AS doc_b,
       |    first_value(is_new) OVER (PARTITION BY fam ORDER BY doc_id)
       |      AS pn,
       |    is_new FROM n),
       |e2 AS (SELECT doc_a, doc_b, (pn OR is_new) AS touches_new
       |  FROM ed WHERE doc_a <> doc_b),
       |fe AS (SELECT doc_a AS a, doc_b AS b FROM e2
       |  UNION ALL SELECT doc_b, doc_a FROM e2),
       |fr AS (SELECT doc_id AS node, doc_id AS lbl FROM n
       |  UNION SELECT fe.b, fr.lbl FROM fr JOIN fe ON fe.a = fr.node),
       |flab AS (SELECT node, min(lbl) AS lbl FROM fr GROUP BY node),
       |be AS (SELECT doc_a AS a, doc_b AS b FROM e2 WHERE NOT touches_new
       |  UNION ALL SELECT doc_b, doc_a FROM e2 WHERE NOT touches_new),
       |br AS (SELECT doc_id AS node, doc_id AS lbl FROM n WHERE NOT is_new
       |  UNION SELECT be.b, br.lbl FROM br JOIN be ON be.a = br.node),
       |blab AS (SELECT node, min(lbl) AS lbl FROM br GROUP BY node),
       |mem AS (SELECT f.node, f.lbl, n.is_new, b.lbl AS base_lbl
       |  FROM flab f JOIN n ON n.doc_id = f.node
       |  LEFT JOIN blab b ON b.node = f.node),
       |cl AS (SELECT lbl, count(*) AS nn,
       |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS nw,
       |    CAST(count(DISTINCT base_lbl) AS BIGINT) AS parts
       |  FROM mem GROUP BY lbl),
       |o AS (SELECT CASE WHEN parts >= 2 THEN 'merged'
       |    WHEN parts = 1 AND nw > 0 THEN 'grown'
       |    WHEN parts = 1 THEN 'unchanged'
       |    ELSE 'new_cluster' END AS outcome, nn, nw, parts FROM cl)
       |SELECT outcome, count(*) AS n_clusters,
       |  CAST(sum(nn) AS BIGINT) AS n_nodes,
       |  CAST(sum(nw) AS BIGINT) AS n_new_nodes,
       |  CAST(sum(parts) AS BIGINT) AS n_base_parts,
       |  TRUE AS incr_agrees
       |FROM o GROUP BY outcome ORDER BY outcome""".stripMargin

  // --- q307: triangle census / clustering coefficient --------------------

  /** Hot-cell guard: at most this many users per (type, hour) cell feed
    * pair generation (the q118 hot-bucket discipline — vacuous at test
    * scale where the largest cell holds 10 users, load-bearing at any
    * scale where a cell goes viral). Deterministic: lowest user ids. */
  val CoocCellCap = 64

  /** Edge threshold: user pairs must share ≥ this many cells. */
  val CoocMinCells = 3

  /** Degree-band width for the census rows. */
  val TriBandWidth = 5

  /** The artifacts one session's graph queries share, each built on
    * first use and read by every later query of the session:
    *  - `cooc`: the capped co-occurrence edges (ua < ub), one lineage
    *    cut; read by q307, q375/q384, q387, q388 and q319's modularity.
    *  - `arcs`: `cooc` plus its reverse as (src, dst), partitioned on
    *    `dst` and persisted; read by q319's rounds, q380, q390 and q392.
    *  - `hb`: the HyperBall generations over `arcs`; q380 builds them,
    *    q382 reads them.
    * Oracles are unchanged: each still states the full build. */
  private final class SessionArtifacts(s: SparkSession, dir: String) {
    lazy val cooc: DataFrame = CurationOps.cutLineage(cooccurEdgesBuild(s, dir))
    // persisted, not cut: the cached frame keeps hashpartitioning(dst,
    // n), so joins and groupBy on `dst` read it with no exchange; a
    // localCheckpoint reports UnknownPartitioning, and every round's
    // join would re-shuffle the |E| rows
    lazy val arcs: DataFrame =
      cooc.select(col("ua").as("src"), col("ub").as("dst"))
        .unionAll(cooc.select(col("ub").as("src"), col("ua").as("dst")))
        .repartition(s.sessionState.conf.numShufflePartitions, col("dst"))
        .persist()
    lazy val hb: HbRounds = hbRoundsBuild(arcs)
  }

  /** Memo contract: keyed by (session, fixture dir, lineage-cut mode).
    *  - Fixture dirs are IMMUTABLE within a session (the testdata
    *    contract), so a key never goes stale while its session lives.
    *  - The mode ([[CurationOps.CheckpointDirKey]]) is part of the key:
    *    a session that configures RELIABLE checkpointing must not be
    *    handed artifacts whose cuts were localCheckpoints — the blocks
    *    it expects to survive executor loss would not.
    *  - Entries of stopped sessions are swept on every access, so the
    *    map is bounded by the live-session count and a stopped session
    *    pins no checkpoint blocks.
    *  - [[evictShared]] drops a session's entries (Bench between reps,
    *    the cut audit before each build). */
  private val shared = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Option[String]), SessionArtifacts]

  private def artifacts(s: SparkSession, dir: String): SessionArtifacts = {
    shared.keys.filter(_._1.sparkContext.isStopped).foreach(shared.remove)
    val key = (s, dir, s.conf.getOption(CurationOps.CheckpointDirKey))
    shared.getOrElseUpdate(key, new SessionArtifacts(s, dir))
  }

  /** Drops every shared artifact of `s`. The bench calls this between
    * timed reps so each rep pays the FULL query cost from the parquet
    * inputs. The entries' checkpoint blocks are NOT unpersisted here
    * (in-flight consumers may still hold the frames); the bench
    * additionally unpersists all persistent RDDs after each rep, which
    * frees them deterministically. */
  private[graft] def evictShared(s: SparkSession): Unit =
    shared.keys.filter(_._1 eq s).foreach(shared.remove)

  private[graft] def cooccurEdges(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir).cooc

  private[graft] def cooccurArcs(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir).arcs

  /** The co-activity edge list (ua < ub) — exposed so the spec can
    * count triangles independently of the oriented wedge join. */
  private[graft] def cooccurEdgesBuild(s: SparkSession, dir: String): DataFrame = {
    // group-then-expand: ONE aggregate collapses each (event_type, hour)
    // cell to its sorted capped user set (collect_set dedups, so the
    // former corpus-wide distinct disappears; sort_array + slice keeps
    // the CoocCellCap lowest ids — exactly the row_number()<=cap order),
    // and every co-activity pair is emitted in-row from the ≤cap-wide
    // array. The former plan paid a distinct exchange, a window exchange
    // and an (et,h) self-join before the pair aggregate; this one pays
    // the cell aggregate and the pair aggregate only.
    val cells = EtlOps.t(s, dir, "events")
      .select(col("event_type").as("et"),
        date_trunc("hour", col("ts")).as("h"), col("user_id").as("u"))
    cells.groupBy("et", "h")
      .agg(slice(sort_array(collect_set(col("u"))), 1, CoocCellCap).as("us"))
      .select(posexplode(col("us")).as(Seq("i", "ua")),
        col("us"))
      .select(col("ua"), explode(expr("slice(us, i + 2, size(us))")).as("ub"))
      .groupBy("ua", "ub")
      .agg(count(lit(1)).as("nc"))
      .filter(col("nc") >= CoocMinCells)
      .select("ua", "ub")
  }

  /** q307 — triangle census with per-degree-band clustering
    * coefficients over the user co-activity graph (edges = user pairs
    * sharing ≥ [[CoocMinCells]] distinct (event_type, hour) activity
    * cells). Triangles separate genuine communities from hub noise —
    * a bot herd hitting one endpoint produces stars (degree without
    * closure) while coordinated accounts close triangles; transitivity
    * vs degree is the standard first look.
    *
    * Counting is the degree-ordered edge-iterator (Schank & Wagner
    * 2005): every edge orients from lower to higher (degree, id) rank,
    * each triangle is counted exactly once at its lowest-rank vertex,
    * and a vertex's oriented out-degree is O(√m) regardless of hub
    * size — the bound that keeps every adjacency array small at scale.
    *
    * Exactness: triangles, degrees and wedge counts are exact
    * integers; each local coefficient 2·tri/(deg·(deg−1)) is one
    * double division, band means are rounded sums of those.
    *
    * Scale (100 TB): the stream collapses to distinct (cell, user)
    * rows; pair volume is bounded by cap²·|cells| ([[CoocCellCap]]);
    * the Θ(Σ wedges) closure work happens INSIDE rows as sorted-array
    * intersections of O(√m)-bounded neighbor lists — the wedge stream
    * is never materialized or shuffled; the only exchanges are the
    * adjacency groupBy and two m-row joins. */
  def triangleCensus(s: SparkSession, dir: String): DataFrame = {
    val edges = cooccurEdges(s, dir).persist()
    val deg = edges.select(col("ua").as("u"))
      .unionAll(edges.select(col("ub").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg"))
    val withDeg = edges
      .join(deg.select(col("u").as("ua"), col("deg").as("da")), "ua")
      .join(deg.select(col("u").as("ub"), col("deg").as("db")), "ub")
    val oriented = withDeg.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("ua") < col("ub")),
        col("ua")).otherwise(col("ub")).as("lo"),
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("ua") < col("ub")),
        col("ub")).otherwise(col("ua")).as("hi"))
    // edge-iterator with adjacency intersection: each node's (rank-
    // bounded, O(√m)) higher-rank neighbor list collapses to a sorted
    // array once; per oriented edge (u, v) the closing vertices are
    // adj(u) ∩ adj(v) — an in-row array_intersect, so the Θ(Σ wedge)
    // work never materializes as rows and never shuffles. Exchanges:
    // the adjacency groupBy and two m-row joins against the |V|-row
    // adjacency table — the same asymptotics GraphFrames ships for
    // triangle counting.
    val adj = oriented.groupBy(col("lo").as("u"))
      .agg(sort_array(collect_list(col("hi"))).as("nbrs"))
    val perEdge = oriented
      .join(adj.select(col("u").as("lo"), col("nbrs").as("nbrs_u")), "lo")
      .join(adj.select(col("u").as("hi"), col("nbrs").as("nbrs_v")),
        Seq("hi"), "left")
      .select(col("lo").as("eu"), col("hi").as("ev"),
        array_intersect(col("nbrs_u"),
          coalesce(col("nbrs_v"), lit(Array.empty[Long]))).as("ws"))
    // ONE explode emits every node's triangle contribution directly —
    // (u, |ws|), (v, |ws|) and (w, 1) per closing vertex — instead of
    // materializing (u, v, w) rows and re-exploding them 3-wide
    val triPerNode = perEdge
      .select(explode(expr(
        "concat(array(named_struct('n', eu, 'c', CAST(size(ws) AS BIGINT)), " +
          "named_struct('n', ev, 'c', CAST(size(ws) AS BIGINT))), " +
          "transform(ws, x -> named_struct('n', x, 'c', 1L)))")).as("t"))
      .select(col("t.n").as("u"), col("t.c"))
      .groupBy("u").agg(sum(col("c")).as("tri"))
      .filter(col("tri") > 0)
    val nodes = deg.join(triPerNode, Seq("u"), "left")
      .withColumn("tri", coalesce(col("tri"), lit(0L)))
      .withColumn("cc", when(col("deg") >= 2,
        lit(2.0) * col("tri").cast("double") /
          (col("deg") * (col("deg") - 1)).cast("double")))
    // global triangle/wedge totals as window sums over the ≤7 band
    // rows — a separate nodes.agg would recompute the whole triangle
    // pipeline a second time (measured 2× at sf0.1)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(lit(1))
    nodes
      .withColumn("degree_band",
        expr(s"least(deg div $TriBandWidth, 6L)"))
      .groupBy("degree_band")
      .agg(count(lit(1)).as("n_nodes"),
        sum(col("tri")).as("n_closed"),
        round(avg(col("cc")), 6).as("mean_local_cc"),
        sum(expr("deg * (deg - 1)") / 2L).as("bw"))
      .withColumn("gt", sum(col("n_closed")).over(wAll) / 3L)
      .withColumn("nw", sum(col("bw")).over(wAll))
      .selectExpr("degree_band", "n_nodes", "n_closed", "mean_local_cc",
        "CAST(gt AS BIGINT) AS global_triangles",
        "round(3.0 * gt / CAST(nw AS DOUBLE), 6)" +
          " AS global_transitivity")
      .orderBy("degree_band")
  }

  def triangleCensusOracle: String =
    s"""WITH cells AS (SELECT DISTINCT event_type AS et,
       |    date_trunc('hour', ts) AS h, user_id AS u FROM events),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM cells) WHERE rn <= $CoocCellCap),
       |edges AS (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |deg AS (SELECT u, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT ua AS u FROM edges
       |        UNION ALL SELECT ub FROM edges)
       |  GROUP BY u),
       |orient AS (SELECT
       |    CASE WHEN da.deg < db.deg
       |      OR (da.deg = db.deg AND e.ua < e.ub)
       |      THEN e.ua ELSE e.ub END AS lo,
       |    CASE WHEN da.deg < db.deg
       |      OR (da.deg = db.deg AND e.ua < e.ub)
       |      THEN e.ub ELSE e.ua END AS hi
       |  FROM edges e
       |  JOIN deg da ON da.u = e.ua JOIN deg db ON db.u = e.ub),
       |tris AS (SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
       |  FROM orient e1 JOIN orient e2
       |    ON e1.lo = e2.lo AND e1.hi < e2.hi
       |  WHERE EXISTS (SELECT 1 FROM edges x
       |    WHERE x.ua = e1.hi AND x.ub = e2.hi)),
       |tpn AS (SELECT u, CAST(count(*) AS BIGINT) AS tri
       |  FROM (SELECT u FROM tris UNION ALL SELECT v FROM tris
       |        UNION ALL SELECT w FROM tris)
       |  GROUP BY u),
       |nodes AS (SELECT d.u, d.deg, coalesce(t.tri, 0) AS tri,
       |    CASE WHEN d.deg >= 2 THEN 2.0 * coalesce(t.tri, 0)
       |      / CAST(d.deg * (d.deg - 1) AS DOUBLE) END AS cc
       |  FROM deg d LEFT JOIN tpn t ON t.u = d.u),
       |g AS (SELECT sum(tri) / 3 AS global_triangles,
       |    sum(deg * (deg - 1)) / 2 AS n_wedges FROM nodes)
       |SELECT least(deg // $TriBandWidth, 6) AS degree_band,
       |  count(*) AS n_nodes, CAST(sum(tri) AS BIGINT) AS n_closed,
       |  round(avg(cc), 6) AS mean_local_cc,
       |  CAST(g.global_triangles AS BIGINT) AS global_triangles,
       |  round(3.0 * g.global_triangles
       |    / CAST(g.n_wedges AS DOUBLE), 6) AS global_transitivity
       |FROM nodes, g
       |GROUP BY 1, g.global_triangles, g.n_wedges
       |ORDER BY degree_band""".stripMargin

  // --- q338: k-core peeling ------------------------------------------------

  /** Fixed peeling rounds — convergence is REPORTED per round, not
    * assumed. */
  val KCoreRounds = 4

  /** q338 — k-core decomposition by iterative peeling (Seidman 1983;
    * Batagelj–Zaveršnik gives the sequential version — here the
    * classic synchronous distributed peel): each round removes every
    * node whose CURRENT degree is below k and the edges touching it;
    * the k-core is the fixed point. k is HALF the initial
    * mean degree (⌈m/2n⌉) rather than a constant: the trade-graph
    * fixture densifies with sf (mean degree ~13 → 61 → 73 across the
    * test scales), so any absolute k degenerates to all-kept or
    * all-peeled at some scale, and the full-mean threshold unravels
    * the whole graph (the classic k-core cascade); the half-mean core
    * peels a substantive fringe AND retains a stable core at every
    * scale — the curation use: drop the noise fringe before trusting
    * co-occurrence stats.
    * Per round: surviving nodes/edges, nodes removed, convergence.
    *
    * Parity: k is ⌈exact-integer ratio⌉; degrees, node/edge counts,
    * and the convergence flag are exact integers on both engines; the
    * oracle unrolls the [[KCoreRounds]] rounds as CTEs.
    *
    * Scale (100 TB): DELTA peeling — the only iterated state is the
    * |V|-row alive-degree frame; the |E| edge table is built once,
    * pinned on hashpartitioning(node), and NEVER moves again. Two
    * earlier forms both failed the synthetic 100× (~120 M directed
    * edges): shrinking and re-materializing the edge frame per round
    * (eager localCheckpoint of ~|E| rows × rounds) read 371 s with
    * forced keep-set broadcasts, and swapping those broadcasts for
    * shuffles re-moved the big side instead — 667 s. Neither touches
    * the real cost: no per-round stat NEEDS the surviving edge list.
    * deg_{r+1}(u) = deg_r(u) − |removed_r ∩ N(u)| reproduces every
    * report column — n_nodes counts the alive frame, surviving edges
    * are Σ deg / 2 — so a round is ONE aligned hash join of the cached
    * edge table with the removed set (|removed| rows move, the |E|
    * side doesn't; by edge symmetry the removed-neighbor counts group
    * on the OTHER endpoint, which partial-aggregates map-side) plus a
    * |V|-row left join. One lineage cut per degree generation (the
    * frame is re-referenced twice per round); the report rows are the
    * counts observed on those cuts. */
  def kcorePeel(s: SparkSession, dir: String): DataFrame = {
    // Long-keyed private edge build (node = 2·custkey / 2·suppkey+1):
    // node ids never reach the output — every column is a count — so
    // the peel skips [[edges]]' string prefixes; 8-byte keys halve the
    // build shuffle and every per-round hash probe. The explicit
    // partition count pins the cached layout to exactly what the
    // per-round degree aggregate and removed-neighbor join require.
    val cs = tradePairs(s, dir)
    val np = s.sessionState.conf.numShufflePartitions
    val e0 = cs.select((col("ck") * 2).cast("long").as("node"),
        (col("sk") * 2 + 1).cast("long").as("nb"))
      .unionAll(cs.select((col("sk") * 2 + 1).cast("long").as("node"),
        (col("ck") * 2).cast("long").as("nb")))
      .repartition(np, col("node"))
      .persist()
    val kthr = e0.agg(ceil(count(lit(1)).cast("double")
      / countDistinct(col("node")) / 2).cast("bigint").as("k"))
    // every degree generation observes its alive nodes and Σ deg; round
    // r's report row reads generations r − 1 and r
    val (_, obs) = CurationOps.iterateCut(
      e0.groupBy("node").agg(count(lit(1)).as("deg"))
        .crossJoin(broadcast(kthr)), KCoreRounds,
      count(lit(1)), coalesce(sum(col("deg")), lit(0L))) { (deg, _) =>
      val removed = deg.filter(col("deg") < col("k")).select("node")
      val keep = deg.filter(col("deg") >= col("k"))
      // shuffle_hash (not broadcast: |removed| is |V|-scaled in the
      // first round; not sort-merge: it would re-sort the cached |E|
      // side every round) — the hinted removed side builds the hash
      // map, e0's cached partitioning already satisfies the join
      val loss = e0.join(removed.hint("shuffle_hash"), Seq("node"))
        .groupBy("nb").agg(count(lit(1)).as("lost"))
        .withColumnRenamed("nb", "node")
      keep.join(loss, Seq("node"), "left")
        .select(col("node"),
          (col("deg") - coalesce(col("lost"), lit(0L))).as("deg"),
          col("k"))
    }
    // every degree generation is already materialized (the cuts are
    // eager); the edge cache is dead state once the loop ends
    e0.unpersist()
    // KCoreRounds local rows in round order: the plan is a LocalRelation
    s.createDataFrame(obs.indices.tail.map { r =>
        val (prev, cur) = (obs(r - 1), obs(r))
        (r.toLong, cur(0), cur(1) / 2, prev(0) - cur(0), prev(0) == cur(0))
      }).toDF("round", "n_nodes", "n_edges", "n_removed", "converged")
  }

  def kcorePeelOracle: String = {
    val iters = (1 to KCoreRounds).map { r =>
      val pe = if (r == 1) "e0" else s"e${r - 1}"
      val pn = if (r == 1) "n0" else s"n${r - 1}"
      s"""d$r AS (SELECT src, count(*) AS deg FROM $pe GROUP BY src),
         |k$r AS (SELECT src AS node FROM d$r
         |  WHERE deg >= (SELECT k FROM kk)),
         |e$r AS (SELECT e.src, e.dst FROM $pe e
         |  JOIN k$r a ON e.src = a.node JOIN k$r b ON e.dst = b.node),
         |n$r AS (SELECT count(*) AS n_prev FROM k$r),
         |s$r AS (SELECT CAST($r AS BIGINT) AS round,
         |    (SELECT count(*) FROM k$r) AS n_nodes,
         |    CAST((SELECT count(*) FROM e$r) / 2 AS BIGINT) AS n_edges,
         |    (SELECT n_prev FROM $pn) - (SELECT count(*) FROM k$r)
         |      AS n_removed,
         |    ((SELECT n_prev FROM $pn) - (SELECT count(*) FROM k$r)) = 0
         |      AS converged)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to KCoreRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    's' || CAST(l_suppkey AS VARCHAR) AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e0 AS (SELECT c AS src, sp AS dst FROM cs
       |       UNION ALL SELECT sp AS src, c AS dst FROM cs),
       |n0 AS (SELECT count(DISTINCT src) AS n_prev FROM e0),
       |kk AS (SELECT CAST(ceil(CAST(count(*) AS DOUBLE)
       |  / count(DISTINCT src) / 2) AS BIGINT) AS k FROM e0),
       |$iters
       |SELECT * FROM ($sel) ORDER BY round""".stripMargin
  }

  // --- q350: pointer-jumping redirect resolution ----------------------------

  /** Redirect-chain modulus: doc i points at i−1 unless i ≡ 0 (mod 32),
    * giving chains up to 31 hops — deep enough that sequential
    * resolution needs 31 passes while pointer jumping needs
    * ⌈log₂ 31⌉ = 5. */
  val JumpMod = 32L

  /** Pointer-jumping rounds (⌈log₂(JumpMod − 1)⌉). */
  val JumpRounds = 5

  /** q350 — redirect resolution by pointer jumping (Wyllie 1979 — the
    * classic parallel list-ranking primitive): every document carries a
    * redirect pointer (synthetic chains: i → i−1 until the chain head
    * at i ≡ 0 mod [[JumpMod]], heads self-point), and each round
    * replaces every pointer with its pointer's pointer — p ← p(p) —
    * halving every chain, so 31-hop chains resolve in [[JumpRounds]]
    * joins instead of 31. Per round: how many pointers already sit at
    * their chain head, and how many sit at the CORRECT head (the
    * closed-form i − i mod [[JumpMod]] — a bug that jumps to some
    * OTHER head fails this column, not just the convergence one).
    * This is how a crawl pipeline collapses redirect/alias chains
    * (URL canonicalization, entity merge forests) without a
    * sequential walk.
    *
    * Parity: pure integer pointers and counts; the oracle unrolls the
    * five doubling rounds as self-join CTEs.
    *
    * Scale (100 TB): each round is ONE equi-join of the pointer table
    * with itself on the pointer key (hash-partitioned both sides, no
    * driver state) + a lineage cut (the q338 discipline — the frame is
    * re-referenced twice per round) whose observed counts are the
    * round's report row; log₂(depth) rounds total. The
    * sequential alternative — follow one hop per pass — pays
    * max-chain-depth passes; pointer jumping is why the cluster pays
    * 5. */
  def pointerJump(s: SparkSession, dir: String): DataFrame = {
    val base = EtlOps.t(s, dir, "documents").selectExpr(
      "doc_id AS id",
      s"CASE WHEN doc_id % $JumpMod = 0 THEN doc_id" +
        " ELSE doc_id - 1 END AS ptr")
    val (_, obs) = CurationOps.iterateCut(base, JumpRounds, count(lit(1)),
        count(when(col("ptr") % JumpMod === 0L, true)),
        count(when(col("ptr") === col("id") - (col("id") % JumpMod), true))
      )((p, _) => p.as("a").join(p.as("b"), col("a.ptr") === col("b.id"))
        .select(col("a.id").as("id"), col("b.ptr").as("ptr")))
    // JumpRounds local rows in round order: the plan is a LocalRelation
    s.createDataFrame(obs.indices.tail.map { r =>
        val o = obs(r)
        (r.toLong, o(0), o(1), o(2), o(1) == o(0))
      }).toDF("round", "n_nodes", "n_at_head", "n_correct_head", "converged")
  }

  def pointerJumpOracle: String = {
    val iters = (1 to JumpRounds).map { r =>
      val pp = s"p${r - 1}"
      s"""p$r AS (SELECT a.id, b.ptr FROM $pp a
         |  JOIN $pp b ON a.ptr = b.id),
         |s$r AS (SELECT CAST($r AS BIGINT) AS round,
         |    count(*) AS n_nodes,
         |    CAST(sum(CASE WHEN ptr % $JumpMod = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_at_head,
         |    CAST(sum(CASE WHEN ptr = id - (id % $JumpMod) THEN 1
         |      ELSE 0 END) AS BIGINT) AS n_correct_head,
         |    sum(CASE WHEN ptr % $JumpMod = 0 THEN 1 ELSE 0 END)
         |      = count(*) AS converged
         |  FROM p$r)""".stripMargin
    }.mkString(",\n")
    val sel = (1 to JumpRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH p0 AS (SELECT doc_id AS id,
       |    CASE WHEN doc_id % $JumpMod = 0 THEN doc_id
       |    ELSE doc_id - 1 END AS ptr
       |  FROM documents),
       |$iters
       |SELECT * FROM ($sel) ORDER BY round""".stripMargin
  }

  // --- q339: degree assortativity ------------------------------------------

  /** q339 — degree assortativity coefficient (Newman 2002, "Assortative
    * mixing in networks"): the Pearson correlation of endpoint degrees
    * over the directed edge list — do high-degree customers trade with
    * high-degree suppliers (assortative, r > 0) or with the fringe
    * (disassortative, r < 0)? Bipartite trade graphs are typically
    * disassortative; the summary row carries the exact edge count,
    * mean endpoint degrees, and r — the one-glance topology
    * fingerprint next to q307's census.
    *
    * Parity: degrees and all five Pearson sums (Σx, Σy, Σxy, Σx²,
    * Σy²) are exact integers; r is one parenthesis-pinned double
    * chain (two casts, one sqrt) + round — no per-row floats anywhere.
    *
    * Scale (100 TB): one degree aggregate, one broadcast-joinable
    * degree attach per endpoint (the degree table is |nodes|-sized;
    * at web scale this is the classic two-hash-join shape on the edge
    * partitioning), ONE global aggregate of five integer sums. */
  def degreeAssortativity(s: SparkSession, dir: String): DataFrame = {
    val e = edges(s, dir)
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg")).persist()
    e.join(deg.select(col("src"), col("deg").as("dx")), Seq("src"))
      .join(deg.select(col("src").as("dst"), col("deg").as("dy")),
        Seq("dst"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx")).as("sx"), sum(col("dy")).as("sy"),
        sum(col("dx") * col("dy")).as("sxy"),
        sum(col("dx") * col("dx")).as("sxx"),
        sum(col("dy") * col("dy")).as("syy"))
      .selectExpr("m AS n_edges_directed",
        "round(CAST(sx AS DOUBLE) / m, 6) AS mean_src_deg",
        "round(CAST(sy AS DOUBLE) / m, 6) AS mean_dst_deg",
        "round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)" +
          " / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)" +
          " * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)" +
          " AS assortativity")
  }

  def degreeAssortativityOracle: String =
    s"""WITH cs AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    's' || CAST(l_suppkey AS VARCHAR) AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, sp AS dst FROM cs
       |      UNION ALL SELECT sp AS src, c AS dst FROM cs),
       |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
       |j AS (SELECT dx.deg AS dx, dy.deg AS dy
       |  FROM e JOIN deg dx ON e.src = dx.src
       |         JOIN deg dy ON e.dst = dy.src),
       |ag AS (SELECT count(*) AS m,
       |    CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
       |    CAST(sum(dx * dy) AS BIGINT) AS sxy,
       |    CAST(sum(dx * dx) AS BIGINT) AS sxx,
       |    CAST(sum(dy * dy) AS BIGINT) AS syy
       |  FROM j)
       |SELECT m AS n_edges_directed,
       |  round(CAST(sx AS DOUBLE) / m, 6) AS mean_src_deg,
       |  round(CAST(sy AS DOUBLE) / m, 6) AS mean_dst_deg,
       |  round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
       |    / (sqrt(CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
       |    * sqrt(CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
       |    AS assortativity
       |FROM ag""".stripMargin

  // --- q355: HITS hubs & authorities ---------------------------------------

  val HitsIters = 2
  val HitsTopK = 10

  /** q355 — HITS (Kleinberg 1999, "Authoritative sources in a
    * hyperlinked environment") on the DIRECTED bipartite trade graph:
    * customers are hubs (they point at the suppliers they buy from),
    * suppliers are authorities. Two mutual-reinforcement iterations,
    * sum-normalized each half-step so each side's score mass equals its
    * node count; output is the top-[[HitsTopK]] per role. q70/q314 rank
    * by random-walk mass on the symmetrized graph — HITS keeps the
    * bipartite direction and answers the two DIFFERENT questions at
    * once: which suppliers are bought by the best-connected customers
    * (authority), and which customers concentrate their buying on
    * those suppliers (hub).
    *
    * Parity: per-edge contributions are floor(score·10¹²) summed as
    * BIGINT (the q70 discipline — exact and order-independent); each
    * normalization is ONE double division by the exact BIGINT total
    * times the exact node count, a pinned op order identical in the
    * unrolled-CTE oracle.
    *
    * Scale (100 TB): the distinct (customer, supplier) pair table is
    * built once (the only corpus-sized exchange) and cached; every
    * half-step joins it against a |nodes|-sized score table and
    * aggregates on the opposite key — the classic reused-partitioning
    * iterate-by-join shape — and each normalizer is a 1-row aggregate
    * cross-joined back (broadcast by construction). */
  def hits(s: SparkSession, dir: String): DataFrame = {
    val (hubs, auths) = hitsScores(s, dir, HitsIters)
    val wh = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("node"))
    // rank over the UNROUNDED score (round only for display): ranking
    // the rounded alias would tie two nodes whose raw scores differ but
    // round to the same 6-dp value, and the oracle's window binds to
    // the pre-rounded base column — rank first, round after.
    def top(df: DataFrame, role: String): DataFrame =
      df.withColumn("rnk", row_number().over(wh))
        .filter(col("rnk") <= HitsTopK)
        .select(lit(role).as("role"), col("node"),
          round(col("score"), 6).as("score"), col("rnk"))
    top(auths, "authority").unionAll(top(hubs, "hub"))
      .orderBy("role", "rnk")
  }

  /** (hub, authority) score tables after `iters` full iterations —
    * exposed so the spec can pin the uniform-start property that
    * iteration-1 authority ranking IS the in-degree ranking. */
  private[graft] def hitsScores(
      s: SparkSession, dir: String, iters: Int): (DataFrame, DataFrame) = {
    val pairs = tradePairs(s, dir)
      .select(concat(lit("c"), col("ck")).as("c"),
        concat(lit("s"), col("sk")).as("sp"))
      .persist()
    // the two side counts are plain driver scalars (ONE aggregate job;
    // they fold into the score arithmetic as literals — the former
    // 1-row cut frames rode a crossJoin into every half-step's plan)
    val sideCounts = pairs.agg(countDistinct("c").as("nc"),
      countDistinct("sp").as("ns")).head
    val (nCv, nSv) = (sideCounts.getLong(0), sideCounts.getLong(1))
    // shuffle_hash on the score side: each half-step re-plans from the
    // previous half-step's checkpoint, so a sort-merge join re-sorts
    // the |pairs| table twice per iteration; the hash join (build =
    // |C|- or |S|-row score table) drops the sorts and is scale-safe
    // where a forced broadcast would not be (the suite-wide
    // broadcast invariant).
    def scoreSide(df: DataFrame): DataFrame = df.hint("shuffle_hash")
    var h = pairs.select(col("c").as("node")).distinct()
      .select(col("node"), lit(1.0).as("score"))
    var a: DataFrame = null
    // each half-step references its raw aggregate TWICE (normalizer +
    // scores) and the next half-step references the result again — cut
    // lineage per half-step or the plan grows 4^iterations (the
    // round-11 iterate-by-join lesson; measured 41 s → ~3 s at sf0.1)
    for (_ <- 1 to iters) {
      val araw = CurationOps.cutLineage(
        pairs.join(scoreSide(h), pairs("c") === h("node"))
          .select(col("sp"),
            floor(col("score") * lit(1e12)).cast("long").as("fp"))
          .groupBy("sp").agg(sum(col("fp")).as("raw")))
      val atot = araw.agg(sum(col("raw")).as("tot"))
      a = araw.crossJoin(broadcast(atot))
        .select(col("sp").as("node"),
          (col("raw").cast("double") / col("tot").cast("double")
            * lit(nSv).cast("double")).as("score"))
      val hraw = CurationOps.cutLineage(
        pairs.join(scoreSide(a), pairs("sp") === a("node"))
          .select(col("c"),
            floor(col("score") * lit(1e12)).cast("long").as("fp"))
          .groupBy("c").agg(sum(col("fp")).as("raw")))
      val htot = hraw.agg(sum(col("raw")).as("tot"))
      h = hraw.crossJoin(broadcast(htot))
        .select(col("c").as("node"),
          (col("raw").cast("double") / col("tot").cast("double")
            * lit(nCv).cast("double")).as("score"))
    }
    (h, a)
  }

  def hitsOracle: String = {
    val iters = (1 to HitsIters).map { i =>
      val ph = s"h${i - 1}"
      s"""a${i}raw AS (SELECT p.sp,
         |    CAST(sum(CAST(floor($ph.score * 1000000000000.0) AS BIGINT))
         |      AS BIGINT) AS raw
         |  FROM pairs p JOIN $ph ON p.c = $ph.node GROUP BY p.sp),
         |a$i AS (SELECT sp AS node,
         |    CAST(raw AS DOUBLE) / CAST(t.tot AS DOUBLE)
         |      * CAST(ns.n AS DOUBLE) AS score
         |  FROM a${i}raw,
         |    (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM a${i}raw) t, ns),
         |h${i}raw AS (SELECT p.c,
         |    CAST(sum(CAST(floor(a$i.score * 1000000000000.0) AS BIGINT))
         |      AS BIGINT) AS raw
         |  FROM pairs p JOIN a$i ON p.sp = a$i.node GROUP BY p.c),
         |h$i AS (SELECT c AS node,
         |    CAST(raw AS DOUBLE) / CAST(t.tot AS DOUBLE)
         |      * CAST(nc.n AS DOUBLE) AS score
         |  FROM h${i}raw,
         |    (SELECT CAST(sum(raw) AS BIGINT) AS tot FROM h${i}raw) t, nc)"""
        .stripMargin
    }.mkString(",\n")
    val k = HitsIters
    s"""WITH pairs AS (SELECT DISTINCT
       |    'c' || CAST(o_custkey AS VARCHAR) AS c,
       |    's' || CAST(l_suppkey AS VARCHAR) AS sp
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |nc AS (SELECT count(DISTINCT c) AS n FROM pairs),
       |ns AS (SELECT count(DISTINCT sp) AS n FROM pairs),
       |h0 AS (SELECT DISTINCT c AS node, 1.0::DOUBLE AS score FROM pairs),
       |$iters,
       |ranked AS (
       |  SELECT role, node, round(raw_score, 6) AS score, rnk FROM (
       |    SELECT 'authority' AS role, node, score AS raw_score,
       |      CAST(row_number() OVER (ORDER BY score DESC, node) AS INT)
       |        AS rnk FROM a$k
       |    UNION ALL
       |    SELECT 'hub' AS role, node, score AS raw_score,
       |      CAST(row_number() OVER (ORDER BY score DESC, node) AS INT)
       |        AS rnk FROM h$k))
       |SELECT role, node, score, rnk FROM ranked
       |WHERE rnk <= $HitsTopK ORDER BY role, rnk""".stripMargin
  }

  // --- q358: Borůvka minimum spanning forest -------------------------------

  /** Borůvka rounds (components at least halve per round — 3 covers the
    * fixture's cluster sizes; the `resolved`/zero-growth tail rows make
    * early convergence visible instead of silent). */
  val BoruvkaRounds = 3

  /** Pointer-jump iterations resolving each round's contraction forest
    * (depth ≤ 2⁴ = 16; the `resolved` flag is the honesty check). */
  val BoruvkaJumps = 4

  /** Minimum verified Jaccard for an edge to exist at all. */
  val MstTau = 0.2

  /** The weighted similarity graph: the production capped-LSH verified
    * candidate stream over the graded spread corpus (q218's stream),
    * thresholded at [[MstTau]], with integer distance weights
    * 10⁹ − ⌊J·10⁹⌋ — exact, and totally ordered by (wfp, a, b) so
    * "minimum edge" is unambiguous on both engines. */
  private[graft] def mstEdges(s: SparkSession, dir: String): DataFrame = {
    // exact-then-near cascade: verbatim replicas fold to one canonical
    // (min-id) doc BEFORE shingling, so a replica-heavy corpus (mirror
    // sites; the 100× ScaleUnion fixture, whose copies share text
    // verbatim) keeps its near-dup structure instead of saturating the
    // hot-bucket drop-cap and silently emptying the graph (the q379
    // replica-fixture lesson). A no-op on the 1× fixture — corpusSpread
    // plants graded/near copies, never verbatim twins.
    val canon = DedupOps.corpusSpread(s, dir)
      .groupBy("text").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id", "text")
    DedupOps.minhashVerified(canon, Some(DedupOps.LshBucketCap))
      .filter(col("jaccard") >= MstTau)
      .select(col("doc_a").as("a"), col("doc_b").as("b"),
        (lit(1000000000L) - floor(col("jaccard") * lit(1e9)).cast("long"))
          .as("wfp"))
  }

  /** q358 — Borůvka minimum-spanning-forest rounds (Borůvka 1926; the
    * textbook parallel MST — e.g. Blelloch's course notes) over the
    * verified near-dup similarity graph: every component picks its
    * minimum incident edge under the (wfp, a, b) total order, mutual
    * picks root at the smaller component id, and the contraction
    * forest resolves by [[BoruvkaJumps]] pointer jumps (the q350
    * machinery). Because edge "weights" are totally ordered, the MSF
    * is UNIQUE — the union of chosen edges equals Kruskal's answer
    * exactly (spec-pinned) — and the MSF is single-linkage clustering's
    * dendrogram skeleton: cutting it at a distance threshold IS
    * single-linkage at that threshold, the principled backbone behind
    * q59's flat dup-clusters.
    *
    * Output: one row per round — components before/after, edges chosen,
    * exact total frozen weight added, and the resolution flag.
    *
    * Parity: weights are exact BIGINTs; every choice is an integer
    * argmin under a total order; no floats anywhere after edge
    * generation (which itself is the established q118/q218 replayed
    * chain).
    *
    * Scale (100 TB): the edge list is candidate-proportional (capped
    * LSH) and is the ONLY corpus-sized frame; it is built once and
    * cached, each round touches it twice (label attach) with
    * |nodes|-sized label tables, per-component argmin is one
    * partitioned window, and contraction runs on the |components|-sized
    * pointer table. Lineage is cut every round (fanout ≥ 2 per
    * generation — the round-11 lesson). */
  def boruvkaMst(s: SparkSession, dir: String): DataFrame =
    boruvkaRun(s, dir)._2.orderBy("round")

  /** (chosen edges with round, per-round summaries, final labels, edge
    * frame) — the edge frame feeds the spec's Kruskal equality; the
    * final labels + edges feed q365's forest-completeness assertion. */
  private[graft] def boruvkaRun(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val e = CurationOps.cutLineage(mstEdges(s, dir)).persist()
    var labels = CurationOps.cutLineage(
      e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .distinct().select(col("node"), col("node").as("comp")))
    val chosenBuf = scala.collection.mutable.Buffer.empty[DataFrame]
    val sumBuf = scala.collection.mutable.Buffer.empty[DataFrame]
    for (r <- 1 to BoruvkaRounds) {
      val la = labels.select(col("node").as("a"), col("comp").as("ca"))
      val lb = labels.select(col("node").as("b"), col("comp").as("cb"))
      val er = e.join(la, Seq("a")).join(lb, Seq("b"))
        .filter(col("ca") =!= col("cb"))
      val dr = er.select(col("ca").as("comp"), col("cb").as("other"),
          col("wfp"), col("a"), col("b"))
        .unionAll(er.select(col("cb").as("comp"), col("ca").as("other"),
          col("wfp"), col("a"), col("b")))
      val wC = org.apache.spark.sql.expressions.Window
        .partitionBy("comp").orderBy("wfp", "a", "b")
      val mr = CurationOps.cutLineage(
        dr.withColumn("rn", row_number().over(wC))
          .filter(col("rn") === 1).drop("rn"))
      val chosen = mr.select(col("wfp"), col("a"), col("b")).distinct()
        .withColumn("round", lit(r.toLong))
      chosenBuf += chosen
      // contraction pointers: mutual minima root at the smaller comp id
      val m1 = mr.select(col("comp"), col("other"))
      val m2 = mr.select(col("comp").as("c2"), col("other").as("o2"))
      val pr0 = m1.join(m2, col("other") === col("c2"), "left")
        .select(col("comp"),
          when(col("o2") === col("comp") && col("comp") < col("other"),
            col("comp")).otherwise(col("other")).as("par"))
      val p0 = CurationOps.cutLineage(
        labels.select(col("comp")).distinct()
          .join(pr0, Seq("comp"), "left")
          .select(col("comp"), coalesce(col("par"), col("comp")).as("par")))
      // the BoruvkaJumps pointer-doubling steps compose in ONE plan over
      // the checkpointed pointer table: every reference bottoms out at
      // the p0 cut leaf, identical join subtrees dedupe via
      // ReusedExchange, and one materialization job replaces one
      // localCheckpoint job per jump (3 fewer driver round-trips per
      // Borůvka round; same algebra, same fixpoint).
      var pj = p0
      for (_ <- 1 to BoruvkaJumps) {
        val q = pj.select(col("comp").as("pc"), col("par").as("pp"))
        pj = pj.join(q, col("par") === col("pc"))
          .select(col("comp"), col("pp").as("par"))
      }
      val p = CurationOps.cutLineage(pj)
      val q2 = p.select(col("comp").as("pc"), col("par").as("pp"))
      val unresolved = p.join(q2, col("par") === col("pc"))
        .filter(col("pp") =!= col("pc"))
      val nextLabels = CurationOps.cutLineage(
        labels.join(p, Seq("comp"))
          .select(col("node"), col("par").as("comp")))
      sumBuf += labels.agg(countDistinct("comp").as("n_comp_before"))
        .crossJoin(chosen.agg(count(lit(1)).as("n_edges_added"),
          coalesce(sum("wfp"), lit(0L)).as("wsum_added")))
        .crossJoin(nextLabels.agg(countDistinct("comp").as("n_comp_after")))
        .crossJoin(unresolved.agg((count(lit(1)) === 0L).as("resolved")))
        .selectExpr(s"CAST($r AS BIGINT) AS round", "n_comp_before",
          "n_edges_added", "wsum_added", "n_comp_after", "resolved")
      labels = nextLabels
    }
    (chosenBuf.reduce(_ unionAll _), sumBuf.reduce(_ unionAll _),
      labels, e)
  }

  def boruvkaMstOracle: String = {
    val sel = (1 to BoruvkaRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH $boruvkaWithBody,
       |${boruvkaSummaryCtes}
       |SELECT * FROM ($sel) ORDER BY round""".stripMargin
  }

  /** Per-round summary CTEs s1..sN over the [[boruvkaWithBody]] chain. */
  private def boruvkaSummaryCtes: String =
    (1 to BoruvkaRounds).map { r =>
      val l = s"l${r - 1}"
      s"""s$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(DISTINCT comp) FROM $l) AS n_comp_before,
         |  (SELECT count(*) FROM ch$r) AS n_edges_added,
         |  (SELECT coalesce(CAST(sum(wfp) AS BIGINT), 0) FROM ch$r)
         |    AS wsum_added,
         |  (SELECT count(DISTINCT comp) FROM l$r) AS n_comp_after,
         |  (SELECT count(*) = 0 FROM pj${r}_$BoruvkaJumps x
         |     JOIN pj${r}_$BoruvkaJumps y ON x.par = y.comp
         |     WHERE y.par <> y.comp) AS resolved)""".stripMargin
    }.mkString(",\n")

  /** The shared WITH body: LSH edge stream → weighted edges → Borůvka
    * rounds (labels l0..lN, chosen edges ch1..chN, pointer-jump chains)
    * — reused by q358's summary and q365's dendrogram-cut curve. */
  private def boruvkaWithBody: String = {
    val rounds = (1 to BoruvkaRounds).map { r =>
      val l = s"l${r - 1}"
      val jumps = (1 to BoruvkaJumps).map { j =>
        s"""pj${r}_$j AS MATERIALIZED (SELECT x.comp, y.par
           |  FROM pj${r}_${j - 1} x
           |  JOIN pj${r}_${j - 1} y ON x.par = y.comp)""".stripMargin
      }.mkString(",\n")
      s"""er$r AS MATERIALIZED (
         |  SELECT la.comp AS ca, lb.comp AS cb, we.wfp, we.a, we.b
         |  FROM we JOIN $l la ON we.a = la.node
         |          JOIN $l lb ON we.b = lb.node
         |  WHERE la.comp <> lb.comp),
         |dr$r AS (SELECT ca AS comp, cb AS other, wfp, a, b FROM er$r
         |  UNION ALL SELECT cb, ca, wfp, a, b FROM er$r),
         |mr$r AS MATERIALIZED (SELECT comp, other, wfp, a, b FROM (
         |  SELECT *, row_number() OVER (PARTITION BY comp
         |    ORDER BY wfp, a, b) AS rn FROM dr$r) WHERE rn = 1),
         |ch$r AS MATERIALIZED (SELECT DISTINCT wfp, a, b FROM mr$r),
         |pr$r AS (SELECT c.comp, coalesce(
         |    CASE WHEN m2.o2 = m.comp AND m.comp < m.other THEN m.comp
         |      ELSE m.other END, c.comp) AS par
         |  FROM (SELECT DISTINCT comp FROM $l) c
         |  LEFT JOIN mr$r m ON c.comp = m.comp
         |  LEFT JOIN (SELECT comp AS c2, other AS o2 FROM mr$r) m2
         |    ON m.other = m2.c2),
         |pj${r}_0 AS MATERIALIZED (SELECT comp, par FROM pr$r),
         |$jumps,
         |l$r AS MATERIALIZED (SELECT $l.node, p.par AS comp FROM $l
         |  JOIN pj${r}_$BoruvkaJumps p ON $l.comp = p.comp)""".stripMargin
    }.mkString(",\n")
    s"""${OracleGen.lshCandSpreadCanonCtes},
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle
       |    AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |jac AS (SELECT doc_a, doc_b,
       |    n_inter / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
       |  FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b),
       |we AS MATERIALIZED (SELECT j.doc_a AS a, j.doc_b AS b,
       |    1000000000 - CAST(floor(j.jaccard * 1000000000.0) AS BIGINT)
       |      AS wfp
       |  FROM jac j JOIN cand USING (doc_a, doc_b)
       |  WHERE j.jaccard >= $MstTau),
       |nodes AS (SELECT DISTINCT a AS node FROM we
       |  UNION SELECT DISTINCT b FROM we),
       |l0 AS MATERIALIZED (SELECT node, node AS comp FROM nodes),
       |$rounds""".stripMargin
  }

  // --- q375: targeted-attack robustness --------------------------------------

  /** Degree-attack removal fractions. */
  val AttackFracs: Seq[Double] = Seq(0.0, 0.02, 0.05, 0.10)

  /** Min-label propagation rounds per attack level (diameter bound on
    * the surviving co-activity graph; the `stable` flag is the
    * honesty check). */
  val AttackCcRounds = 8

  /** q375 — targeted-attack robustness (Albert, Jeong & Barabási,
    * Nature 2000): remove the top-f highest-degree users from the
    * co-activity graph and measure what survives — kept nodes/edges,
    * component count, and the giant component's share. Scale-free-ish
    * graphs shatter under degree-targeted removal long before random
    * failure would bite; this is the audit that says whether the
    * cohort/abuse structure q307/q319 report hangs on a few hubs. Per
    * attack level, components come from [[AttackCcRounds]] synchronous
    * min-label rounds (q59's fixpoint discipline) with an explicit
    * stability flag.
    *
    * Parity: degrees, ranks, and label minima are all exact integers;
    * the one share division is pinned.
    *
    * Scale (100 TB): the capped co-activity edge list is built ONCE
    * and cached; removal levels are NESTED, so all of them run in ONE
    * [[survivalCurve]] pass — each node carries its highest survived
    * level, edges explode to (level, edge) rows (the row volume the
    * per-level union already paid), and the label rounds run once over
    * the (level, node) key: `rounds` shuffles instead of
    * levels×rounds. The degree rank is [[ScaleOps.withGlobalRank]]
    * (range-partition + per-partition offsets), never a single-task
    * global window. |V| and the per-level kept-edge counts are
    * observed on the rank and edge-level cuts, not counted by jobs. */
  def attackRobustness(s: SparkSession, dir: String): DataFrame = {
    val und = cooccurEdges(s, dir) // already a shared checkpoint artifact
    val deg = und.select(col("ua").as("u"))
      .unionAll(und.select(col("ub").as("u")))
      .groupBy("u").agg(count(lit(1)).as("deg"))
    val (ranked, Seq(nv)) = CurationOps.cutObserved(
      ScaleOps.withGlobalRank(deg, "rk", col("deg").desc, col("u")),
      count(lit(1)))
    val nRemoves = AttackFracs.map(f => math.ceil(f * nv.toDouble).toLong)
    // removal sets are NESTED (fracs ascend), so a node's survival
    // across all levels is ONE integer: the last level whose removed-set
    // size its degree rank still exceeds
    var ml: Column = lit(0)
    for (i <- 1 until AttackFracs.size)
      ml = when(col("rk") > nRemoves(i), lit(i)).otherwise(ml)
    val nodeMax = ranked.select(col("u"), ml.as("max_lvl"))
    val levels = AttackFracs.zipWithIndex.map { case (f, i) =>
      (i, f, nv - nRemoves(i)) }
    survivalCurve(und, nodeMax, levels)
  }

  /** Level-batched percolation curve shared by q375's targeted attack
    * and q384's random failure. Both removal rules are NESTED across
    * levels, so `nodeMaxLvl` carries each node's highest survived level
    * and an edge survives levels 0..min(endpoint max levels): the edge
    * stream is exploded once to (level, edge) rows — the same total row
    * volume the per-level union paid — and the [[AttackCcRounds]]
    * synchronous min-label rounds run ONCE over a (level, node)-keyed
    * frame: 1 join per round instead of |levels| joins, one lineage-cut
    * chain instead of |levels| chains (the r12 form ran
    * |levels|×rounds ≈ 32 tiny eager jobs; this runs `rounds`).
    *
    * `levels` = (level id, removal fraction, kept-node count); the
    * kept-edge count joins them as a fourth long per level. */
  private def survivalCurve(und: DataFrame, nodeMaxLvl: DataFrame,
      levels: Seq[(Int, Double, Long)]): DataFrame = {
    val e = und
      .join(nodeMaxLvl.select(col("u").as("ua"), col("max_lvl").as("la")),
        Seq("ua"))
      .join(nodeMaxLvl.select(col("u").as("ub"), col("max_lvl").as("lb")),
        Seq("ub"))
      .select(col("ua"), col("ub"), least(col("la"), col("lb")).as("mx"))
    val (eLvl, nEdges) = CurationOps.cutObserved(
      e.select(explode(sequence(lit(0), col("mx"))).as("level"),
        col("ua"), col("ub")),
      levels.map(l => count(when(col("level") === l._1, true))): _*)
    val ed = eLvl.select(col("level"), col("ua").as("src"),
        col("ub").as("dst"))
      .unionAll(eLvl.select(col("level"), col("ub").as("src"),
        col("ua").as("dst")))
    // union-min round (the propagateLabels shape): neighbors' labels
    // union own labels → ONE (level,node) min aggregate, so
    // l_{r+1}(v) = min(l_r(v), min_nbr l_r) costs one join and one
    // exchange per round.
    val lbl = CurationOps.iterateCut(
      ed.select(col("level"), col("src").as("node")).distinct()
        .select(col("level"), col("node"), col("node").as("lbl")),
      AttackCcRounds)((g, _) =>
      ed.join(g.select(col("level"), col("node").as("dst"),
          col("lbl")), Seq("level", "dst"))
        .select(col("level"), col("src").as("node"), col("lbl"))
        .unionAll(g)
        .groupBy("level", "node").agg(min("lbl").as("lbl")))._1.last
    val post = ed.join(lbl.select(col("level"), col("node").as("dst"),
        col("lbl").as("nl")), Seq("level", "dst"))
      .groupBy(col("level"), col("src").as("node"))
      .agg(min("nl").as("nmin"))
    val unstable = lbl.join(post, Seq("level", "node"))
      .filter(col("nmin") < col("lbl"))
      .groupBy("level").agg(count(lit(1)).as("n_unstable"))
    val compAgg = lbl.groupBy("level", "lbl").agg(count(lit(1)).as("sz"))
      .groupBy("level").agg(count(lit(1)).as("n_comp"),
        max("sz").as("giant"), sum("sz").as("n_conn"))
    // |levels| literal rows — a LocalRelation, broadcast by stats
    val grid = und.sparkSession.createDataFrame(levels.zip(nEdges).map {
        case ((i, f, k), n) => (i, f, k, n) })
      .toDF("level", "frac_removed", "n_kept_nodes", "n_edges")
    grid.join(compAgg, Seq("level"), "left")
      .join(unstable, Seq("level"), "left")
      .selectExpr(
        "CAST(frac_removed AS DOUBLE) AS frac_removed",
        "CAST(n_kept_nodes AS BIGINT) AS n_kept_nodes",
        "CAST(coalesce(n_edges, 0) AS BIGINT) AS n_kept_edges",
        "CAST(coalesce(n_comp, 0) AS BIGINT) AS n_components",
        "round(CAST(giant AS DOUBLE) / CAST(n_conn AS DOUBLE), 6)" +
          " AS giant_share_connected",
        "round(CAST(giant AS DOUBLE)" +
          " / CAST(greatest(n_kept_nodes, 1) AS DOUBLE), 6)" +
          " AS giant_share_kept",
        "coalesce(n_unstable, 0) = 0 AS stable")
      .orderBy("frac_removed")
  }

  def attackRobustnessOracle: String = {
    val levels = AttackFracs.zipWithIndex.map { case (f, i) =>
      val rounds = (1 to AttackCcRounds).map { r =>
        s"""l${i}_$r AS MATERIALIZED (SELECT l.node,
           |    least(l.lbl, coalesce(nb.nmin, l.lbl)) AS lbl
           |  FROM l${i}_${r - 1} l LEFT JOIN (
           |    SELECT e.src AS node, min(x.lbl) AS nmin
           |    FROM ed$i e JOIN l${i}_${r - 1} x ON x.node = e.dst
           |    GROUP BY e.src) nb ON nb.node = l.node)""".stripMargin
      }.mkString(",\n")
      val last = s"l${i}_$AttackCcRounds"
      s"""kept$i AS (SELECT u FROM ranked
         |  WHERE rk > CAST(ceil($f * (SELECT nv FROM nn)) AS BIGINT)),
         |e$i AS MATERIALIZED (SELECT ua, ub FROM und
         |  WHERE ua IN (SELECT u FROM kept$i)
         |    AND ub IN (SELECT u FROM kept$i)),
         |ed$i AS (SELECT ua AS src, ub AS dst FROM e$i
         |  UNION ALL SELECT ub, ua FROM e$i),
         |l${i}_0 AS MATERIALIZED (SELECT DISTINCT src AS node,
         |    src AS lbl FROM ed$i),
         |$rounds,
         |post$i AS (SELECT e.src AS node, min(x.lbl) AS nmin
         |  FROM ed$i e JOIN $last x ON x.node = e.dst GROUP BY e.src),
         |cp$i AS (SELECT lbl, count(*) AS sz FROM $last GROUP BY lbl),
         |s$i AS (SELECT CAST($f AS DOUBLE) AS frac_removed,
         |  (SELECT nv FROM nn)
         |    - CAST(ceil($f * (SELECT nv FROM nn)) AS BIGINT)
         |    AS n_kept_nodes,
         |  (SELECT count(*) FROM e$i) AS n_kept_edges,
         |  (SELECT count(*) FROM cp$i) AS n_components,
         |  round((SELECT CAST(max(sz) AS DOUBLE) FROM cp$i)
         |    / (SELECT CAST(sum(sz) AS DOUBLE) FROM cp$i), 6)
         |    AS giant_share_connected,
         |  round((SELECT CAST(max(sz) AS DOUBLE) FROM cp$i)
         |    / CAST(greatest((SELECT nv FROM nn)
         |      - CAST(ceil($f * (SELECT nv FROM nn)) AS BIGINT), 1)
         |      AS DOUBLE), 6) AS giant_share_kept,
         |  (SELECT count(*) = 0 FROM $last l JOIN post$i p
         |     ON p.node = l.node WHERE p.nmin < l.lbl) AS stable)"""
        .stripMargin
    }.mkString(",\n")
    val sel = AttackFracs.indices.map(i => s"SELECT * FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |und AS MATERIALIZED (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |deg AS (SELECT u, count(*) AS deg FROM (
       |  SELECT ua AS u FROM und UNION ALL SELECT ub FROM und)
       |  GROUP BY u),
       |ranked AS MATERIALIZED (SELECT u, deg,
       |    row_number() OVER (ORDER BY deg DESC, u) AS rk FROM deg),
       |nn AS (SELECT count(*) AS nv FROM ranked),
       |$levels
       |SELECT * FROM ($sel) ORDER BY frac_removed""".stripMargin
  }

  // --- q365: single-linkage dendrogram-cut curve ----------------------------

  /** Jaccard thresholds at which the dendrogram is cut. */
  val LinkageTaus: Seq[Double] =
    Seq(0.9, 0.8, 0.7, 0.6, 0.5, 0.4, 0.3, 0.2)

  /** q365 — the single-linkage cluster-count curve read STRAIGHT off
    * q358's minimum spanning forest: for a threshold τ, single-linkage
    * clusters are the connected components of the J ≥ τ edge graph, and
    * by the classic MST cut property those components are exactly what
    * the MSF's J ≥ τ edges span — so n_clusters(τ) = n_nodes − |{MSF
    * edges with J ≥ τ}| with NO per-τ component computation at all.
    * The whole dedup-threshold landscape (q196 prices pair counts; THIS
    * prices cluster structure) for every τ at once, for the price of
    * one MSF. Spec pins one τ against a direct union-find over the full
    * edge set. The cut-property shortcut is only valid if
    * [[BoruvkaRounds]] rounds FULLY built the forest, so every row
    * carries an in-query `forest_complete` flag: zero cross-component
    * edges remain under the final labels (a hypothetical extra round
    * would merge nothing). If the fixture's component diameter ever
    * outgrows the round budget, the flag flips false on BOTH engines
    * and the row diff is loud instead of silently-agreeing-wrong.
    *
    * Parity: thresholds compare on the exact integer wfp = 10⁹−⌊J·10⁹⌋
    * scale (τ cut = 10⁹ − τ·10⁹ computed identically); counts are
    * integers; the one division (mean cluster size) is pinned.
    *
    * Scale (100 TB): q358's cost, then an 8-row grid against the
    * |nodes|-bounded MSF edge list — the curve itself is free. */
  def linkageCurve(s: SparkSession, dir: String): DataFrame = {
    val (chosen, sums, finalLabels, e) = boruvkaRun(s, dir)
    val msf = chosen.select("wfp").persist()
    // completeness assertion: no edge still crosses two final
    // components (|nodes|-sized label table joined twice — cheap)
    val fc = e
      .join(finalLabels.select(col("node").as("a"), col("comp").as("ca")),
        Seq("a"))
      .join(finalLabels.select(col("node").as("b"), col("comp").as("cb")),
        Seq("b"))
      .filter(col("ca") =!= col("cb"))
      .agg((count(lit(1)) === 0L).as("forest_complete"))
    // node count = round 1's components-before (every node starts as
    // its own component) — no re-derivation of the edge stream
    val nodes = sums.filter(col("round") === 1L)
      .select("n_comp_before").head().getLong(0)
    val grid = s.createDataFrame(LinkageTaus.map(Tuple1(_))).toDF("tau")
    // the cut compares on the integer wfp scale; floor() on both
    // engines (a bare double→BIGINT cast truncates in Spark but ROUNDS
    // in DuckDB — the known parity trap)
    broadcast(grid).crossJoin(msf)
      .selectExpr("tau", "wfp",
        "1000000000 - CAST(floor(tau * 1000000000.0) AS BIGINT) AS cut")
      .groupBy("tau")
      .agg(sum(when(col("wfp") <= col("cut"), 1L).otherwise(0L))
        .as("n_edges_kept"))
      .crossJoin(broadcast(fc))
      .selectExpr("tau", "n_edges_kept",
        s"CAST($nodes AS BIGINT) - n_edges_kept AS n_clusters",
        s"round(CAST($nodes AS DOUBLE)" +
          s" / CAST(CAST($nodes AS BIGINT) - n_edges_kept AS DOUBLE), 4)" +
          " AS mean_cluster_size",
        "forest_complete")
      .orderBy(col("tau").desc)
  }

  def linkageCurveOracle: String = {
    val taus = LinkageTaus.map(t => s"(${t}::DOUBLE)").mkString(", ")
    val chUnion = (1 to BoruvkaRounds)
      .map(r => s"SELECT wfp FROM ch$r").mkString(" UNION ALL ")
    val lf = s"l$BoruvkaRounds"
    s"""WITH $boruvkaWithBody,
       |msf AS MATERIALIZED ($chUnion),
       |nn AS (SELECT count(*) AS n FROM nodes),
       |fcq AS (SELECT count(*) = 0 AS forest_complete
       |  FROM we w JOIN $lf la ON la.node = w.a
       |            JOIN $lf lb ON lb.node = w.b
       |  WHERE la.comp <> lb.comp),
       |grid AS (SELECT unnest(ARRAY[$taus]) AS tau)
       |SELECT g.tau,
       |  CAST(sum(CASE WHEN m.wfp <= 1000000000
       |    - CAST(floor(g.tau * 1000000000.0) AS BIGINT)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_edges_kept,
       |  CAST(nn.n AS BIGINT) - CAST(sum(CASE WHEN m.wfp <= 1000000000
       |    - CAST(floor(g.tau * 1000000000.0) AS BIGINT)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_clusters,
       |  round(CAST(nn.n AS DOUBLE) / CAST(CAST(nn.n AS BIGINT)
       |    - CAST(sum(CASE WHEN m.wfp <= 1000000000
       |      - CAST(floor(g.tau * 1000000000.0) AS BIGINT)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE), 4)
       |    AS mean_cluster_size,
       |  fcq.forest_complete
       |FROM grid g, msf m, nn, fcq
       |GROUP BY g.tau, nn.n, fcq.forest_complete
       |ORDER BY g.tau DESC""".stripMargin
  }
  // --- q380: HyperBall neighborhood function --------------------------------

  /** Synchronous HyperBall rounds — the ball radius the curve reaches;
    * the per-round `converged` flag reports honestly whether the
    * registers were still growing at the budget. 4 rounds CONVERGES on
    * the sf0.1 co-activity graph (round 3 left 4 nodes changing, round
    * 4 zero), so the final-round reach_frac is an effective-diameter
    * reading, not a budget truncation. */
  val HyperBallRounds = 4

  /** The HyperBall rounds — memoized per session ([[SessionArtifacts]])
    * like [[cooccurEdges]], so q380's curve and q382's harmonic
    * centrality read the SAME checkpointed sketch stream and the rounds
    * run once per session. Every generation has one fixed shape, so
    * every round plan compiles to the same classes: per node the
    * m-register vector `regs`, `bs: array<bigint>` — the frozen ball
    * estimate floor(est·10³) of every generation so far — and `chg`,
    * whether the round changed the registers (they only grow, so
    * changed ⟺ the vector differs). `obs` holds each generation's
    * observed (nodes, changed nodes, Σ ball estimate). Array state +
    * native hb_merge_agg is the measured 9× plan over the relational
    * (node, bkt, r) join form (which fans the edge⋈register join out to
    * |E|·m rows per round); the oracles keep the relational GROUP BY
    * (node, bkt) → max(r) rebuild — same merge law, identical registers
    * (q224 discipline). */
  private[graft] final case class HbRounds(fin: DataFrame,
      obs: IndexedSeq[IndexedSeq[Long]])

  private[graft] def hbRounds(s: SparkSession, dir: String): HbRounds =
    artifacts(s, dir).hb

  private def hbRoundsBuild(ed: DataFrame): HbRounds = {
    val m = ProfileOps.HllM
    // hb_sketch reads (sp, vz) off the packed vector in one native loop;
    // the estimate itself is the SAME shared SQL text as the oracle
    val bfp = "CAST(floor((" +
      ProfileOps.hllEstSql("sk.sp", "sk.vz", spark = true) +
      ") * 1000.0) AS BIGINT)"
    // every generation appends its frozen ball estimate to `bs`
    def withBall(g: DataFrame): DataFrame =
      g.withColumn("sk", call_function("hb_sketch", col("regs")))
        .selectExpr("node", "regs", s"concat(bs, array($bfp)) AS bs", "chg")
    // byte-packed registers (hb_agg / hb_merge_agg — BINARY(m), ranks
    // ≤ 53 fit one byte): the per-round edge join + max-merge moves
    // |2E| whole register vectors, and the array<long> form shipped
    // 8× the bytes for the same registers. Values and the merge law
    // are identical (spec-asserted against the hll_* forms); the
    // relational oracle rebuild is unchanged.
    val (gens, obs) = CurationOps.iterateCut(withBall(
      ed.select(col("dst").as("node")).distinct()
        .withColumn("h", call_function("md5_fp60",
          concat(lit("hb:"), col("node").cast("string"))))
        .withColumn("bkt", col("h") % m)
        .withColumn("rnk", expr(ProfileOps.hllRankSql("h")).cast("long"))
        .groupBy("node")
        .agg(expr(s"hb_agg(array(bkt, rnk), $m)").as("regs"))
        .select(col("node"), col("regs"),
          array().cast("array<bigint>").as("bs"), lit(true).as("chg"))),
      HyperBallRounds, count(lit(1)), count(when(col("chg"), true)),
      sum(element_at(col("bs"), -1))) { (gen, _) =>
      val nb = ed.join(gen.select(col("node").as("dst"), col("regs")),
          Seq("dst"))
        .select(col("src").as("node"), col("regs"),
          lit(null).cast("array<bigint>").as("bs"),
          lit(null).cast("binary").as("rp"))
      // a node's own row alone carries `bs` and its previous registers
      // `rp`, so max() passes each through
      withBall(gen.select(col("node"), col("regs"), col("bs"),
          col("regs").as("rp"))
        .unionAll(nb).groupBy("node")
        .agg(expr(s"hb_merge_agg(regs, $m)").as("regs"),
          max(col("bs")).as("bs"), max(col("rp")).as("rp"))
        .select(col("node"), col("regs"), col("bs"),
          (col("regs") =!= col("rp")).as("chg")))
    }
    HbRounds(gens.last, obs)
  }

  /** q380 — HyperBall / ANF neighborhood function (Boldi & Vigna 2013,
    * "In-core computation of geometric centralities with HyperBall";
    * Palmer, Gibbons & Faloutsos 2002 ANF): per node, an HLL sketch of
    * the ball B(v, t) grown by one hop per round (merge own registers
    * with every neighbor's), so N̂(t) = Σ_v |B(v, t)| estimates the
    * number of node pairs within distance t — the distance
    * distribution, reachable-pair curve and effective-diameter readout
    * of the co-activity graph, at O(|V|·m) state instead of the
    * quadratic exact BFS. Complements the wing: q59/q375 count
    * components (connectivity), q358 weighs them (MSF), THIS measures
    * how far apart the connected mass sits. One row per round: the
    * pair estimate, exact changed-node count, reach fraction of the
    * final round, and the convergence flag.
    *
    * Registers are RELATIONAL — (node, bkt, rank) rows, merge = GROUP
    * BY (node, bkt) MAX(rank) — so the DuckDB oracle rebuilds the
    * identical state with the identical max-merge (the q224 register
    * discipline) and every derived double matches bitwise: S' is an
    * exact DECIMAL(38,0) per node, α and the linear-counting ln table
    * are build-time integer literals ([[ProfileOps.hllEstSql]]), and
    * the per-node estimate freezes to floor(est·10³) BIGINT before the
    * order-free global sum.
    *
    * Scale (100 TB): rides [[hbRounds]]: per round ONE arc⋈register
    * join (the session's [[cooccurArcs]], partitioned on the join key)
    * and ONE node-keyed merge — state is |V| register vectors plus R+1
    * longs per node, never pairs; per-round lineage cuts (the q338
    * discipline) whose observed longs are the report, a LocalRelation.
    * The exact-BFS audit lives in the spec only; production pays sketch
    * cost. */
  def hyperball(s: SparkSession, dir: String): DataFrame = {
    val obs = hbRounds(s, dir).obs
    // R+1 local rows in round order: the plan folds to a LocalRelation
    s.createDataFrame(obs.zipWithIndex.map { case (o, t) =>
        (t.toLong, o(0), o(1), o(2), obs.last(2)) })
      .toDF("round", "n_nodes", "changed_nodes", "nhat_fp", "final_fp")
      .selectExpr("round", "n_nodes", "changed_nodes",
        "round(CAST(nhat_fp AS DOUBLE) / 1000.0, 3) AS nhat_pairs",
        "round(CAST(nhat_fp AS DOUBLE) / CAST(final_fp AS DOUBLE), 6)" +
          " AS reach_frac",
        "changed_nodes = 0 AS converged")
  }

  def hyperballOracle: String = {
    val m = ProfileOps.HllM
    val est = ProfileOps.hllEstSql("sp", "vz", spark = false)
    def estCte(t: Int): String =
      s"""e$t AS (SELECT CAST(sum(est_fp) AS BIGINT) AS nhat_fp FROM (
         |  SELECT CAST(floor(($est) * 1000.0) AS BIGINT) AS est_fp
         |  FROM (SELECT node,
         |      sum(CAST((CAST(1 AS BIGINT) << CAST(60 - r AS INT))
         |        AS DECIMAL(38,0)))
         |      + CAST($m - count(*) AS DECIMAL(38,0))
         |        * CAST(1152921504606846976 AS DECIMAL(38,0)) AS sp,
         |      CAST($m - count(*) AS BIGINT) AS vz
         |    FROM r$t GROUP BY node)))""".stripMargin
    val rounds = (1 to HyperBallRounds).map { t =>
      s"""r$t AS MATERIALIZED (SELECT node, bkt, max(r) AS r FROM (
         |    SELECT node, bkt, r FROM r${t - 1}
         |    UNION ALL SELECT e.src, p.bkt, p.r
         |    FROM ed e JOIN r${t - 1} p ON p.node = e.dst)
         |  GROUP BY node, bkt),
         |ch$t AS (SELECT CAST(count(DISTINCT t.node) AS BIGINT) AS chg
         |  FROM r$t t LEFT JOIN r${t - 1} p
         |    ON p.node = t.node AND p.bkt = t.bkt
         |  WHERE p.r IS NULL OR t.r > p.r),
         |${estCte(t)}""".stripMargin
    }.mkString(",\n")
    val curveSel = (1 to HyperBallRounds).map(t =>
      s"SELECT CAST($t AS BIGINT), nn.n, ch$t.chg, e$t.nhat_fp" +
        s" FROM nn, ch$t, e$t").mkString("\n  UNION ALL ")
    s"""WITH cells AS (SELECT DISTINCT event_type AS et,
       |    date_trunc('hour', ts) AS h, user_id AS u FROM events),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM cells) WHERE rn <= $CoocCellCap),
       |und AS MATERIALIZED (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM und
       |  UNION ALL SELECT ub, ua FROM und),
       |r0 AS MATERIALIZED (SELECT node, h % $m AS bkt,
       |    CAST(${ProfileOps.hllRankSql("h")} AS BIGINT) AS r
       |  FROM (SELECT node, CAST('0x' || substr(
       |      md5('hb:' || CAST(node AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |    FROM (SELECT DISTINCT src AS node FROM ed))),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM r0),
       |${estCte(0)},
       |$rounds,
       |curve AS (
       |  SELECT CAST(0 AS BIGINT) AS round, nn.n AS n_nodes,
       |    nn.n AS changed_nodes, e0.nhat_fp FROM nn, e0
       |  UNION ALL $curveSel),
       |fin AS (SELECT nhat_fp AS final_fp FROM curve
       |  WHERE round = $HyperBallRounds)
       |SELECT round, n_nodes, changed_nodes,
       |  round(CAST(nhat_fp AS DOUBLE) / 1000.0, 3) AS nhat_pairs,
       |  round(CAST(nhat_fp AS DOUBLE) / CAST(final_fp AS DOUBLE), 6)
       |    AS reach_frac,
       |  changed_nodes = 0 AS converged
       |FROM curve, fin ORDER BY round""".stripMargin
  }
  // --- q382: harmonic centrality off the HyperBall stream --------------------

  /** Harmonic-centrality report depth. */
  val HarmonicTopK = 20

  /** q382 — harmonic centrality (Boldi & Vigna 2014, "Axioms for
    * centrality"; THE application HyperBall was built for): H(v) =
    * Σ_{u≠v} 1/d(v,u), estimated per node from the SAME register
    * generations as q380 via H(v) ≈ Σ_t (|B(v,t)|−|B(v,t−1)|)/t — each
    * ball-size delta is the count of nodes first reached at distance t.
    * Distance-based centrality is well-defined on DISCONNECTED graphs
    * (unreachable nodes contribute 0, where closeness degenerates) —
    * the axis q70/q314/q355's walk-mass centralities don't measure: a
    * node can carry little stationary mass yet sit one hop from
    * everything. Top-[[HarmonicTopK]] nodes by estimated H.
    *
    * Parity: ball sizes are the q380 frozen floor(est·10³) BIGINTs;
    * H is ONE pinned left-associated double chain over those integers
    * (identical text both engines), ranked UNROUNDED (the q355
    * lesson) with node as tiebreak, rounded only for display. Deltas
    * can be slightly negative when a node's estimator crosses the
    * linear-counting→raw threshold between rounds — a known HyperBall
    * artifact, identical on both engines.
    *
    * Scale (100 TB): rides [[hbRounds]] (shared artifact + register
    * stream); the final generation's `bs` array already holds every
    * round's ball size b0..bR per node, so the per-node frame is one
    * scan of |V| rows with no join; top-k is orderBy+limit (TakeOrdered
    * — never a single-task global window). */
  def harmonicCentrality(s: SparkSession, dir: String): DataFrame = {
    val hChain = (1 to HyperBallRounds).map(t =>
      s"(CAST(bs[$t] - bs[${t - 1}] AS DOUBLE) / 1000.0) / $t.0")
      .mkString(" + ")
    hbRounds(s, dir).fin.selectExpr("node", s"($hChain) AS hraw",
        s"bs[$HyperBallRounds] AS b$HyperBallRounds")
      .orderBy(col("hraw").desc, col("node"))
      .limit(HarmonicTopK)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("hraw").desc, col("node"))).cast("bigint"))
      .selectExpr("rnk", "node", "round(hraw, 6) AS harmonic",
        s"round(CAST(b$HyperBallRounds AS DOUBLE) / 1000.0, 3)" +
          " AS ball_final")
      .orderBy("rnk")
  }

  def harmonicCentralityOracle: String = {
    val m = ProfileOps.HllM
    val est = ProfileOps.hllEstSql("sp", "vz", spark = false)
    val perCtes = (0 to HyperBallRounds).map { t =>
      s"""p$t AS (SELECT node,
         |    CAST(floor(($est) * 1000.0) AS BIGINT) AS b$t
         |  FROM (SELECT node,
         |      sum(CAST((CAST(1 AS BIGINT) << CAST(60 - r AS INT))
         |        AS DECIMAL(38,0)))
         |      + CAST($m - count(*) AS DECIMAL(38,0))
         |        * CAST(1152921504606846976 AS DECIMAL(38,0)) AS sp,
         |      CAST($m - count(*) AS BIGINT) AS vz
         |    FROM r$t GROUP BY node))""".stripMargin
    }.mkString(",\n")
    val joins = (1 to HyperBallRounds)
      .map(t => s"JOIN p$t USING (node)").mkString(" ")
    val hChain = (1 to HyperBallRounds).map(t =>
      s"(CAST(b$t - b${t - 1} AS DOUBLE) / 1000.0) / $t.0")
      .mkString(" + ")
    val rounds = (1 to HyperBallRounds).map { t =>
      s"""r$t AS MATERIALIZED (SELECT node, bkt, max(r) AS r FROM (
         |    SELECT node, bkt, r FROM r${t - 1}
         |    UNION ALL SELECT e.src, p.bkt, p.r
         |    FROM ed e JOIN r${t - 1} p ON p.node = e.dst)
         |  GROUP BY node, bkt)""".stripMargin
    }.mkString(",\n")
    s"""WITH cells AS (SELECT DISTINCT event_type AS et,
       |    date_trunc('hour', ts) AS h, user_id AS u FROM events),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM cells) WHERE rn <= $CoocCellCap),
       |und AS MATERIALIZED (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |ed AS MATERIALIZED (SELECT ua AS src, ub AS dst FROM und
       |  UNION ALL SELECT ub, ua FROM und),
       |r0 AS MATERIALIZED (SELECT node, h % $m AS bkt,
       |    CAST(${ProfileOps.hllRankSql("h")} AS BIGINT) AS r
       |  FROM (SELECT node, CAST('0x' || substr(
       |      md5('hb:' || CAST(node AS VARCHAR)), 1, 15) AS BIGINT) AS h
       |    FROM (SELECT DISTINCT src AS node FROM ed))),
       |$rounds,
       |$perCtes,
       |h AS (SELECT node, ($hChain) AS hraw, b$HyperBallRounds AS bf
       |  FROM p0 $joins),
       |rk AS (SELECT node, hraw, bf, CAST(row_number() OVER (
       |    ORDER BY hraw DESC, node) AS BIGINT) AS rnk FROM h)
       |SELECT rnk, node, round(hraw, 6) AS harmonic,
       |  round(CAST(bf AS DOUBLE) / 1000.0, 3) AS ball_final
       |FROM rk WHERE rnk <= $HarmonicTopK ORDER BY rnk""".stripMargin
  }
  // --- q384: random-failure percolation --------------------------------------

  /** Random-failure removal fractions — same grid as [[AttackFracs]]
    * so the two curves compare level-for-level. */
  val FailFracs: Seq[Double] = AttackFracs

  /** q384 — RANDOM-failure percolation: remove each node independently
    * with probability f (deterministic hash coin, so both engines and
    * every rerun remove the same nodes) and measure what survives —
    * the CONTROL curve to q375's degree-targeted attack. The
    * scale-free signature (Albert, Jeong & Barabási 2000) is the
    * CONTRAST: such graphs barely notice random failure at levels
    * where targeted removal has already shattered them, so reading
    * q384 against q375 at the same f separates "hub-dependent
    * structure" from "genuinely well-connected". The curve is
    * [[survivalCurve]] — the exact level-batched machinery q375 runs,
    * only the removal rule differs.
    *
    * Parity: the coin is md5-derived (fp % 1000 < f·1000 — exact
    * integers); kept-node counts are exact; shares are pinned
    * divisions; label rounds identical to q375's.
    *
    * Scale (100 TB): rides the shared co-activity artifact; coin
    * thresholds are nested like q375's ranks, so all levels batch into
    * the one (level, node)-keyed pass; the driver holds ONE metadata
    * row (kept count per threshold). */
  def randomFailure(s: SparkSession, dir: String): DataFrame = {
    val und = cooccurEdges(s, dir)
    val thrs = FailFracs.map(f => math.round(f * 1000).toInt)
    // the kept-node count at every threshold, observed on the node cut
    val (nodes, kept) = CurationOps.cutObserved(
      und.select(col("ua").as("u"))
        .unionAll(und.select(col("ub").as("u"))).distinct()
        .withColumn("coin", call_function("md5_fp60",
          concat(lit("rf:"), col("u").cast("string"))) % 1000),
      thrs.map(t => count(when(col("coin") >= t, true))): _*)
    // coin thresholds ascend, so the removal sets are NESTED — same
    // one-integer survival encoding as q375's rank
    var ml: Column = lit(0)
    for (i <- 1 until FailFracs.size)
      ml = when(col("coin") >= thrs(i), lit(i)).otherwise(ml)
    val nodeMax = nodes.select(col("u"), ml.as("max_lvl"))
    val levels = FailFracs.zipWithIndex.map { case (f, i) => (i, f, kept(i)) }
    survivalCurve(und, nodeMax, levels)
  }

  def randomFailureOracle: String = {
    val coin = "CAST('0x' || substr(md5('rf:' || CAST(u AS VARCHAR))," +
      " 1, 15) AS BIGINT) % 1000"
    val levels = FailFracs.zipWithIndex.map { case (f, i) =>
      val thr = math.round(f * 1000).toInt
      val rounds = (1 to AttackCcRounds).map { r =>
        s"""l${i}_$r AS MATERIALIZED (SELECT l.node,
           |    least(l.lbl, coalesce(nb.nmin, l.lbl)) AS lbl
           |  FROM l${i}_${r - 1} l LEFT JOIN (
           |    SELECT e.src AS node, min(x.lbl) AS nmin
           |    FROM ed$i e JOIN l${i}_${r - 1} x ON x.node = e.dst
           |    GROUP BY e.src) nb ON nb.node = l.node)""".stripMargin
      }.mkString(",\n")
      val last = s"l${i}_$AttackCcRounds"
      s"""kept$i AS (SELECT u FROM nodes WHERE coin >= $thr),
         |e$i AS MATERIALIZED (SELECT ua, ub FROM und
         |  WHERE ua IN (SELECT u FROM kept$i)
         |    AND ub IN (SELECT u FROM kept$i)),
         |ed$i AS (SELECT ua AS src, ub AS dst FROM e$i
         |  UNION ALL SELECT ub, ua FROM e$i),
         |l${i}_0 AS MATERIALIZED (SELECT DISTINCT src AS node,
         |    src AS lbl FROM ed$i),
         |$rounds,
         |post$i AS (SELECT e.src AS node, min(x.lbl) AS nmin
         |  FROM ed$i e JOIN $last x ON x.node = e.dst GROUP BY e.src),
         |cp$i AS (SELECT lbl, count(*) AS sz FROM $last GROUP BY lbl),
         |s$i AS (SELECT CAST($f AS DOUBLE) AS frac_removed,
         |  (SELECT count(*) FROM kept$i) AS n_kept_nodes,
         |  (SELECT count(*) FROM e$i) AS n_kept_edges,
         |  (SELECT count(*) FROM cp$i) AS n_components,
         |  round((SELECT CAST(max(sz) AS DOUBLE) FROM cp$i)
         |    / (SELECT CAST(sum(sz) AS DOUBLE) FROM cp$i), 6)
         |    AS giant_share_connected,
         |  round((SELECT CAST(max(sz) AS DOUBLE) FROM cp$i)
         |    / CAST(greatest((SELECT count(*) FROM kept$i), 1)
         |      AS DOUBLE), 6) AS giant_share_kept,
         |  (SELECT count(*) = 0 FROM $last l JOIN post$i p
         |     ON p.node = l.node WHERE p.nmin < l.lbl) AS stable)"""
        .stripMargin
    }.mkString(",\n")
    val sel = FailFracs.indices.map(i => s"SELECT * FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |und AS MATERIALIZED (SELECT a.u AS ua, b.u AS ub
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |nodes AS MATERIALIZED (SELECT u, $coin AS coin FROM (
       |  SELECT DISTINCT u FROM (SELECT ua AS u FROM und
       |    UNION ALL SELECT ub FROM und))),
       |$levels
       |SELECT * FROM ($sel) ORDER BY frac_removed""".stripMargin
  }

  // --- q387: k-truss peeling --------------------------------------------------

  /** Fixed truss-peeling rounds — convergence is REPORTED per round,
    * never assumed (the q338 discipline). */
  val TrussRounds = 4

  /** The per-edge triangle-support frame of an (a < b) edge list:
    * supp(a,b) = |N(a) ∩ N(b)| — computed Spark-side as a sorted-array
    * intersection INSIDE rows (the q307 adjacency discipline: the wedge
    * stream is never materialized or shuffled), and oracle-side as the
    * equivalent wedge join. Zero-support edges keep their row (supp 0),
    * so the peel can remove them instead of losing them. */
  private[graft] def edgeSupports(e: DataFrame): DataFrame = {
    val ed = e.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
    // sort each adjacency list ONCE in the aggregate; the per-edge
    // intersection count is then the native two-pointer merge
    // (sorted_inter_count) instead of array_intersect's per-row boxed
    // hash set — measured 2.7 s of each 3.4 s support pass at sf0.1
    // (54 M element ops per round; q387 pays 4 rounds)
    val adj = ed.groupBy("src")
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
    e.join(adj.select(col("src").as("a"), col("nbrs").as("na")), Seq("a"))
      .join(adj.select(col("src").as("b"), col("nbrs").as("nb")), Seq("b"))
      .select(col("a"), col("b"),
        call_function("sorted_inter_count", col("na"), col("nb"))
          .as("supp"))
  }

  /** q387 — k-truss decomposition by synchronous edge peeling (Cohen
    * 2008, "Trusses: cohesive subgraphs for social network analysis"):
    * each round removes every edge whose triangle SUPPORT
    * (|N(a) ∩ N(b)|) is below the threshold; the k-truss is the fixed
    * point. Where q338's k-core keeps nodes with enough NEIGHBORS,
    * the truss keeps edges with enough mutual friends — the strictly
    * stronger cohesion gate (every k-truss sits inside a (k−1)-core),
    * and the standard next question after q307 counts the triangles:
    * which edges do the triangles actually certify? The threshold is
    * half the round-0 mean support (the q338 adaptive-k rationale: the
    * co-activity fixture densifies with sf, so any absolute k
    * degenerates at some scale). Per round: surviving edges/nodes,
    * edges removed, convergence flag.
    *
    * Parity: supports, thresholds (⌈exact ratio⌉ with the identical
    * division text), and counts are exact integers; the oracle unrolls
    * the [[TrussRounds]] rounds with the wedge-join support form —
    * set-intersection counts equal wedge counts because the edge list
    * is duplicate-free.
    *
    * Scale (100 TB): rides the shared co-activity artifact; per round
    * ONE adjacency aggregate (map-combinable collect on the node key)
    * + two m-row joins + the in-row intersections (Θ(Σ wedges) work
    * INSIDE rows, O(√m)-ish lists under the artifact's cell cap) — the
    * wedge stream never shuffles; per-round lineage cuts. */
  def ktruss(s: SparkSession, dir: String): DataFrame = {
    val und = cooccurEdges(s, dir)
    // generation 0: every edge with its support; the threshold is read
    // off its cut (the same double arithmetic as the oracle's tt)
    val (sup0, Seq(m0, supSum)) = CurationOps.cutObserved(
      edgeSupports(und.select(col("ua").as("a"), col("ub").as("b"))),
      count(lit(1)), coalesce(sum(col("supp")), lit(0L)))
    val thr = math.ceil(supSum.toDouble / m0 / 2).toLong
    // round r keeps the edges of round r − 1 whose support, computed in
    // this round, reaches the threshold; only the kept edges are cut
    val (gens, obs) = CurationOps.iterateCut(
      sup0.filter(col("supp") >= thr).select("a", "b"), TrussRounds - 1,
      count(lit(1))) { (e, _) =>
      edgeSupports(e).filter(col("supp") >= thr).select("a", "b")
    }
    val nEdges = m0 +: obs.map(_.head)
    (1 to TrussRounds).map { r =>
      val (e, removed) = (gens(r - 1), nEdges(r - 1) - nEdges(r))
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .agg(countDistinct(col("v")).as("n_nodes"))
        .select(lit(r.toLong).as("round"), lit(thr).as("support_thr"),
          lit(nEdges(r)).as("n_edges"), col("n_nodes"),
          lit(removed).as("n_removed"), lit(removed == 0).as("converged"))
    }.reduce(_ unionAll _).orderBy("round")
  }

  def ktrussOracle: String = {
    // supp via the wedge join: common neighbors of the edge's endpoints
    def supCte(r: Int): String =
      s"""ed$r AS (SELECT a AS src, b AS dst FROM e$r
         |  UNION ALL SELECT b, a FROM e$r),
         |s$r AS MATERIALIZED (SELECT e.a, e.b,
         |    coalesce(t.supp, 0) AS supp
         |  FROM e$r e LEFT JOIN (
         |    SELECT x.src AS a, y.src AS b, count(*) AS supp
         |    FROM ed$r x JOIN ed$r y ON x.dst = y.dst AND x.src < y.src
         |    GROUP BY x.src, y.src) t ON t.a = e.a AND t.b = e.b)"""
        .stripMargin
    val iters = (1 to TrussRounds).map { r =>
      val keepNext =
        if (r < TrussRounds) ",\n" + supCte(r)
        else ""
      s"""e$r AS MATERIALIZED (SELECT a, b FROM s${r - 1}
         |  WHERE supp >= (SELECT thr FROM tt)),
         |n$r AS (SELECT count(DISTINCT v) AS n_nodes FROM (
         |  SELECT a AS v FROM e$r UNION ALL SELECT b FROM e$r)),
         |r$r AS (SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT thr FROM tt) AS support_thr,
         |  (SELECT count(*) FROM e$r) AS n_edges,
         |  (SELECT n_nodes FROM n$r) AS n_nodes,
         |  (SELECT count(*) FROM e${r - 1})
         |    - (SELECT count(*) FROM e$r) AS n_removed,
         |  ((SELECT count(*) FROM e${r - 1})
         |    - (SELECT count(*) FROM e$r)) = 0 AS converged)$keepNext"""
        .stripMargin
    }.mkString(",\n")
    val sel = (1 to TrussRounds).map(r => s"SELECT * FROM r$r")
      .mkString(" UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |e0 AS MATERIALIZED (SELECT a.u AS a, b.u AS b
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |${supCte(0)},
       |tt AS (SELECT CAST(ceil(CAST(sum(supp) AS DOUBLE)
       |  / count(*) / 2) AS BIGINT) AS thr FROM s0),
       |$iters
       |SELECT * FROM ($sel) ORDER BY round""".stripMargin
  }

  // --- q388: densest subgraph (greedy peeling, 3-approx) ----------------------

  /** Fixed density-peeling rounds; each round strictly shrinks the
    * node set (an ε-fraction at least), so log-many suffice — the
    * trailing empty rounds REPORT empty rather than being skipped. */
  val DsgRounds = 8

  /** q388 — densest-subgraph extraction by parallel greedy peeling
    * (Charikar 2000's greedy, in the Bahmani–Kumar–Vassilvitskii VLDB
    * 2012 MapReduce form): per round, remove EVERY node whose degree
    * is ≤ 2(1+ε) times the current density ρ = m/n, and the best
    * density seen over all rounds is a 2(1+ε)-approximation of the
    * maximum-average-degree subgraph. ε = 1/2 on purpose: the removal
    * test becomes deg·n ≤ 3·m — EXACT integer arithmetic, no double
    * threshold anywhere. The densest core is the curation complement
    * of q375's attack question: q375 asks what breaks when hubs leave;
    * THIS finds the soldered-together block (spam farms, bot rings,
    * template factories) that survives everything. Per round: nodes,
    * edges, density (frozen), removed count, running best, and an
    * `is_densest` flag on the argmax round.
    *
    * Parity: the peel test is pure integers; density freezes to
    * floor(10⁶·m/n) BIGINT; the running max is an integer comparison;
    * empty rounds report NULL density identically on both engines.
    *
    * Scale (100 TB): rides the shared co-activity artifact; per round
    * ONE map-combinable degree aggregate + a 1-row stats frame + two
    * endpoint semi-joins sharing the edge partitioning; the round
    * budget is logarithmic by the ε-fraction-removal guarantee, and
    * the 9-row curve (never the graph) is what reaches the driver. */
  def densestSubgraph(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val und = cooccurEdges(s, dir)
    // round r cuts only its edge frame; the nodes it keeps are computed
    // inside the round
    val (gens, obs) = CurationOps.iterateCut(
      und.select(col("ua").as("a"), col("ub").as("b")), DsgRounds,
      count(lit(1))) { (e, _) =>
      val ed = e.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(e.select(col("b").as("src"), col("a").as("dst")))
      val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
      val st = e.agg(count(lit(1)).as("m"))
        .crossJoin(ed.agg(countDistinct(col("src")).as("n")))
      // Charikar/Bahmani peel at eps = 1/2: REMOVE deg <= 2(1+eps)·m/n,
      // i.e. KEEP deg·n > 3·m — exact integers
      val keep = deg.crossJoin(broadcast(st))
        .filter(col("deg") * col("n") > lit(3L) * col("m"))
        .select(col("src").as("node"))
      e.join(keep.select(col("node").as("a")), Seq("a"))
        .join(keep.select(col("node").as("b")), Seq("b"))
        .select("a", "b")
    }
    val curve = gens.zip(obs).zipWithIndex.map { case ((e, Seq(m)), r) =>
      e.select(col("a").as("v")).unionAll(e.select(col("b").as("v")))
        .agg(countDistinct(col("v")).as("n_nodes"))
        .selectExpr(s"CAST($r AS BIGINT) AS round", "n_nodes",
          s"CAST($m AS BIGINT) AS n_edges",
          "CASE WHEN n_nodes > 0 THEN CAST(floor(1e6 *" +
            s" CAST($m AS DOUBLE) / n_nodes) AS BIGINT) END AS density_fp")
    }.reduce(_ unionAll _)
    // 9-row frame: the running max and argmax flag are bounded windows
    val w = Window.orderBy("round")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    curve
      .withColumn("best_density_fp", max(col("density_fp")).over(w))
      .withColumn("is_densest",
        coalesce(col("density_fp"), lit(-1L)) ===
          max(col("density_fp")).over(wAll))
      .withColumn("n_removed",
        coalesce(lag(col("n_nodes"), 1).over(Window.orderBy("round"))
          - col("n_nodes"), lit(0L)))
      .select(col("round"), col("n_nodes"), col("n_edges"),
        col("density_fp"), col("n_removed"), col("best_density_fp"),
        col("is_densest"))
      .orderBy("round")
  }

  def densestSubgraphOracle: String = {
    val iters = (1 to DsgRounds).map { r =>
      val p = r - 1
      s"""ed$p AS (SELECT a AS src, b AS dst FROM e$p
         |  UNION ALL SELECT b, a FROM e$p),
         |st$p AS (SELECT (SELECT count(*) FROM e$p) AS m,
         |  (SELECT count(DISTINCT src) FROM ed$p) AS n),
         |k$r AS (SELECT src AS node FROM
         |  (SELECT src, count(*) AS deg FROM ed$p GROUP BY src) d, st$p
         |  WHERE d.deg * st$p.n > 3 * st$p.m),
         |e$r AS MATERIALIZED (SELECT e.a, e.b FROM e$p e
         |  JOIN k$r x ON e.a = x.node JOIN k$r y ON e.b = y.node)"""
        .stripMargin
    }.mkString(",\n")
    val rowSel = (0 to DsgRounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(DISTINCT v) FROM (SELECT a AS v FROM e$r
         |    UNION ALL SELECT b FROM e$r)) AS n_nodes,
         |  (SELECT count(*) FROM e$r) AS n_edges""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |e0 AS MATERIALIZED (SELECT a.u AS a, b.u AS b
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |$iters,
       |curve AS (SELECT round, n_nodes, n_edges,
       |    CASE WHEN n_nodes > 0 THEN CAST(floor(1e6 *
       |      CAST(n_edges AS DOUBLE) / n_nodes) AS BIGINT) END
       |      AS density_fp
       |  FROM ($rowSel))
       |SELECT round, n_nodes, n_edges, density_fp,
       |  coalesce(lag(n_nodes) OVER (ORDER BY round) - n_nodes, 0)
       |    AS n_removed,
       |  max(density_fp) OVER (ORDER BY round
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |    AS best_density_fp,
       |  coalesce(density_fp, -1) = (max(density_fp) OVER ())
       |    AS is_densest
       |FROM curve ORDER BY round""".stripMargin
  }

  // --- q389: butterfly census (bipartite 4-cycles) --------------------------

  /** Per-supplier customer-list cap for wedge generation — TRUNCATES
    * hot suppliers (first [[BflyCap]] customers by id, the replica-
    * fixture lesson: caps keep a deterministic prefix, never drop the
    * group), bounding pair fan-out at C(cap,2) per supplier. */
  val BflyCap = 32

  /** q389 — butterfly (2×2 biclique) census of the bipartite trade
    * graph (Wang–Fu–Cheng VLDB 2014; Sanei-Mehri–Sariyüce–Tirthapura
    * KDD 2018): a butterfly is two customers sharing two suppliers —
    * the smallest bipartite cohesion motif, playing the role triangles
    * (q307) play on unipartite graphs, where the customer–supplier
    * graph has NO triangles by construction. Per co-degree band (w =
    * shared suppliers of a customer pair, capped at 8): pair count and
    * butterfly count Σ C(w,2), plus the global totals on every row.
    * The curation read: high-butterfly blocks are the bipartite analog
    * of q388's dense core — order-bot rings and mirrored storefronts
    * co-purchasing through the same supplier sets.
    *
    * Parity: wedge generation is capped by a deterministic
    * row_number prefix (identical text both engines); w, C(w,2) =
    * (w·(w−1)) div 2, and all sums are exact integers (DuckDB's
    * int128 sums cast back to BIGINT).
    *
    * Scale (100 TB): the classic butterfly-count hazard is Θ(Σ deg²)
    * wedge fan-out on hub suppliers; the cap bounds it at C(cap,2) per
    * supplier — capped, counted, and reported, not silently dropped
    * (band 8+ aggregates the saturated tail). The self-join shuffles
    * ONE exchange (both sides are the same cached frame, partitioned
    * on sk), the (c1,c2) aggregate is map-combinable, and only the
    * ≤8-row band table reaches the driver. */
  /** The capped co-degree pair stream (c1 < c2, w = shared suppliers
    * under the cap) — the wedge half of q389, exposed so the plan pin
    * can check the self-join shape before the lineage cut. */
  private[graft] def butterflyPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val eb = tradePairs(s, dir)
    val capped = eb
      .withColumn("rn", row_number().over(
        Window.partitionBy("sk").orderBy("ck")))
      .filter(col("rn") <= BflyCap)
      .select("ck", "sk")
      .persist()
    capped.as("x")
      .join(capped.as("y"),
        col("x.sk") === col("y.sk") && col("x.ck") < col("y.ck"))
      .groupBy(col("x.ck").as("c1"), col("y.ck").as("c2"))
      .agg(count(lit(1)).as("w"))
  }

  def butterflyCensus(s: SparkSession, dir: String): DataFrame = {
    val pairs = CurationOps.cutLineage(butterflyPairs(s, dir))
    val g = pairs.agg(
      coalesce(sum(expr("(w * (w - 1)) div 2")), lit(0L))
        .as("global_butterflies"),
      coalesce(sum(col("w")), lit(0L)).as("global_wedge_pairs"))
    pairs
      .groupBy(least(col("w"), lit(8L)).as("codeg_band"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("(w * (w - 1)) div 2")).as("n_butterflies"))
      .crossJoin(g)
      .select(col("codeg_band"), col("n_pairs"), col("n_butterflies"),
        col("global_butterflies"), col("global_wedge_pairs"))
      .orderBy("codeg_band")
  }

  def butterflyCensusOracle: String =
    s"""WITH eb AS (SELECT DISTINCT o_custkey AS ck, l_suppkey AS sk
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |cap AS (SELECT ck, sk FROM (SELECT ck, sk,
       |    row_number() OVER (PARTITION BY sk ORDER BY ck) AS rn
       |  FROM eb) WHERE rn <= $BflyCap),
       |pairs AS MATERIALIZED (SELECT x.ck AS c1, y.ck AS c2,
       |    count(*) AS w
       |  FROM cap x JOIN cap y ON x.sk = y.sk AND x.ck < y.ck
       |  GROUP BY 1, 2),
       |g AS (SELECT CAST(coalesce(sum((w * (w - 1)) // 2), 0) AS BIGINT)
       |    AS gb,
       |  CAST(coalesce(sum(w), 0) AS BIGINT) AS gw FROM pairs)
       |SELECT CAST(least(w, 8) AS BIGINT) AS codeg_band,
       |  count(*) AS n_pairs,
       |  CAST(sum((w * (w - 1)) // 2) AS BIGINT) AS n_butterflies,
       |  g.gb AS global_butterflies, g.gw AS global_wedge_pairs
       |FROM pairs, g GROUP BY 1, g.gb, g.gw
       |ORDER BY codeg_band""".stripMargin

  // --- q390: Luby maximal independent set ------------------------------------

  /** Fixed Luby rounds — convergence is REPORTED per round, never
    * assumed (the q338 discipline). */
  val LubyRounds = 5

  /** Sentinel above every 60-bit md5 priority: a node with no alive
    * neighbor always wins its own comparison. */
  private val MisNoNbr = 1L << 62

  /** One Luby round's winner set — the strict local priority minima of
    * the alive set under fresh round-r md5 priorities. Exposed so the
    * plan pin can check the round's physical shape: priorities are
    * in-row expressions (never joined), the alive probe hash-joins
    * against the arcs' cached partitioning (no sort-merge re-sort of
    * the |E| side), and the min-priority aggregate is map-combinable. */
  private[graft] def misWinners(ed: DataFrame, alive: DataFrame,
      r: Int): DataFrame = {
    def prio(c: Column): Column =
      call_function("md5_fp60", concat(lit(s"mis:$r:"), c.cast("string")))
    val minNbr = ed
      .join(alive.withColumnRenamed("u", "v").hint("shuffle_hash"),
        Seq("v"))
      .select(col("u"), prio(col("v")).as("pv"))
      .groupBy("u").agg(min(col("pv")).as("mp"))
    alive.join(minNbr, Seq("u"), "left")
      .filter(prio(col("u")) < coalesce(col("mp"), lit(MisNoNbr)))
      .select("u")
  }

  /** q390 — maximal independent set by Luby's algorithm (Luby 1986,
    * SICOMP "A simple parallel algorithm for the maximal independent
    * set problem"): per round every alive node draws a fresh
    * deterministic priority (md5 of round:node — the q384 coin
    * discipline, so both engines draw the SAME "random" numbers), the
    * strict local minima join the MIS, and winners plus their
    * neighbors leave the graph; expected O(log n) rounds kill all
    * edges. Strictness on ties keeps the selected set independent
    * under (vanishingly unlikely) 60-bit collisions — neither
    * neighbor enters that round. The MIS is the classic one-hop
    * spacing primitive: pick spread-out exemplars from the near-dup
    * graph (one doc per tight cluster neighborhood), seed distributed
    * graph coloring, thin a crawl frontier.
    * Per round: selected count, running MIS size, removed, alive,
    * convergence flag — each round's counts are observed on its one
    * cut, the previous alive set tagged winner / neighbor of a winner /
    * still alive, so the report is a LocalRelation of local longs.
    *
    * Parity: priorities are 60-bit md5 integers built from identical
    * strings; counts are exact; the oracle unrolls the
    * [[LubyRounds]] rounds as CTEs.
    *
    * Scale (100 TB): rides the session's co-activity arcs
    * ([[cooccurArcs]], partitioned on the neighbor key). The only
    * iterated state is the |V|-row tagged alive set (one cut per
    * generation); BOTH per-round probes — min alive-neighbor priority
    * and the one winner probe that tags winners and their neighbors —
    * hash-join the arcs in place (shuffle_hash on the |V|-bounded side;
    * priorities are computed in-row, never joined). Nothing |E|-sized
    * ever re-shuffles or re-materializes. */
  def lubyMis(s: SparkSession, dir: String): DataFrame = {
    val ed = cooccurArcs(s, dir).select(col("src").as("u"), col("dst").as("v"))
    // generation r tags every node alive after round r − 1: 1 joins the
    // MIS in round r, 2 is a neighbor of a round-r winner, 0 stays alive
    val (_, obs) = CurationOps.iterateCut(
      ed.select(col("v").as("u")).distinct().withColumn("tag", lit(0)),
      LubyRounds, count(lit(1)), count(when(col("tag") === 1, true)),
      count(when(col("tag") === 0, true))) { (g, r) =>
      val alive = g.filter(col("tag") === 0).select("u")
      // ONE winner probe: an arc into winner v tags v 1 and u 2; every
      // alive node has an arc, so the min tag per node is its tag
      val tags = ed
        .join(misWinners(ed, alive, r).withColumnRenamed("u", "v")
          .hint("shuffle_hash"), Seq("v"))
        .select(inline(array(struct(col("v").as("u"), lit(1).as("tag")),
          struct(col("u"), lit(2).as("tag")))))
        .groupBy("u").agg(min(col("tag")).as("tag"))
      alive.join(tags, Seq("u"), "left")
        .select(col("u"), coalesce(col("tag"), lit(0)).as("tag"))
    }
    // local rows in round order: the plan folds to a LocalRelation
    val nSel = obs.map(_(1))
    s.createDataFrame(obs.indices.tail.map { r =>
        val (nPrev, nAlive) = (obs(r)(0), obs(r)(2))
        (r.toLong, nSel(r), nSel.take(r + 1).sum, nPrev - nAlive, nAlive,
          nAlive == 0)
      }).toDF("round", "n_selected", "mis_size", "n_removed", "n_alive",
        "converged")
  }

  def lubyMisOracle: String = {
    def prio(r: Int, c: String): String =
      s"CAST('0x' || substr(md5('mis:$r:' || CAST($c AS VARCHAR)), 1, 15)" +
        " AS BIGINT)"
    val iters = (1 to LubyRounds).map { r =>
      val p = r - 1
      s"""m$r AS (SELECT e.u, min(${prio(r, "e.v")}) AS mp
         |  FROM ed e JOIN a$p x ON e.v = x.u GROUP BY e.u),
         |s$r AS MATERIALIZED (SELECT al.u FROM a$p al
         |  LEFT JOIN m$r m ON al.u = m.u
         |  WHERE ${prio(r, "al.u")} < coalesce(m.mp, $MisNoNbr)),
         |nb$r AS (SELECT DISTINCT e.u FROM ed e
         |  JOIN s$r sel ON e.v = sel.u),
         |a$r AS MATERIALIZED (SELECT u FROM a$p
         |  WHERE u NOT IN (SELECT u FROM s$r)
         |    AND u NOT IN (SELECT u FROM nb$r))""".stripMargin
    }.mkString(",\n")
    val rowSel = (1 to LubyRounds).map { r =>
      val p = r - 1
      val cum = (1 to r).map(i => s"(SELECT count(*) FROM s$i)")
        .mkString(" + ")
      s"""SELECT CAST($r AS BIGINT) AS round,
         |  (SELECT count(*) FROM s$r) AS n_selected,
         |  $cum AS mis_size,
         |  (SELECT count(*) FROM a$p) - (SELECT count(*) FROM a$r)
         |    AS n_removed,
         |  (SELECT count(*) FROM a$r) AS n_alive,
         |  (SELECT count(*) FROM a$r) = 0 AS converged""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |e0 AS MATERIALIZED (SELECT a.u AS a, b.u AS b
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |ed AS (SELECT a AS u, b AS v FROM e0
       |       UNION ALL SELECT b, a FROM e0),
       |a0 AS MATERIALIZED (SELECT DISTINCT u FROM ed),
       |$iters
       |SELECT * FROM ($rowSel) ORDER BY round""".stripMargin
  }

  // --- q392: random-walk corpus audit ----------------------------------------

  /** Walk length (steps after the start node). */
  val RwSteps = 4

  /** Start-node sampling modulus: walks start from the ~1/[[RwStartMod]]
    * of nodes whose md5 coin lands on 0, so the coverage curve has
    * somewhere to GROW (starting everywhere begins at 100%). */
  val RwStartMod = 10

  /** q392 — random-walk corpus audit (DeepWalk, Perozzi–Al-Rfou–Skiena
    * KDD 2014; node2vec's p=q=1 case): the walk corpus that graph
    * embedding pretraining feeds on, generated IN-ENGINE with
    * deterministic md5 transition coins (the q384/q390 coin
    * discipline — both engines draw identical "random" neighbors).
    * Per node a neighbor INDEX table (row_number over the adjacency,
    * co-partitioned with the degree) turns each step into one
    * equi-join: next = neighbors[coin(step, walk) mod deg]. Per step:
    * walk count, distinct occupied nodes, walks back at their start,
    * cumulative nodes visited, and the coverage fraction — the curve
    * that answers "how many walks × how many steps until the corpus
    * has seen the graph", which is the budget question a DeepWalk
    * pipeline asks before it burns GPU time.
    *
    * Parity: transitions are md5-mod-degree integers; all stats are
    * exact counts; coverage freezes to floor(10⁶·visited/|V|); the
    * oracle unrolls the [[RwSteps]] steps as CTEs.
    *
    * Scale (100 TB): the neighbor-index table is built once (two
    * windows over [[cooccurArcs]] read as node := dst, already
    * partitioned on the node key) and cached; each step is a single
    * hash join of the |walks|-row state against that partitioning (the
    * state side builds the hash map — shuffle_hash, never a per-step
    * re-sort of |E|); one lineage cut per step. Walk state never
    * exceeds |starts| rows; nothing |E|-sized moves after the build
    * but the one node count of the report. */
  def randomWalks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val arcs = cooccurArcs(s, dir)
    val ei = arcs.select(col("dst").as("node"), col("src").as("nbr"))
      .withColumn("idx", row_number().over(
        Window.partitionBy("node").orderBy("nbr")) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("node")))
      .persist()
    // generation t is the walk state after step t; the nodes visited by
    // step t are the distinct `cur` over generations 0..t
    val (walks, obs) = CurationOps.iterateCut(ei.select("node").distinct()
      .filter(call_function("md5_fp60",
        concat(lit("rws:"), col("node").cast("string")))
        % RwStartMod === 0)
      .select(col("node").as("w"), col("node").as("cur")), RwSteps,
      count(lit(1)), count(when(col("w") === col("cur"), true))) {
      (walk, t) =>
        val coin = call_function("md5_fp60",
          concat(lit(s"rw:$t:"), col("w").cast("string")))
        walk.hint("shuffle_hash")
          .join(ei, walk("cur") === ei("node") &&
            ei("idx") === coin % ei("deg"))
          .select(col("w"), col("nbr").as("cur"))
    }
    ei.unpersist()
    val nNodes = arcs.agg(countDistinct(col("dst")).as("n_nodes"))
    walks.zip(obs).zipWithIndex.map { case ((walk, Seq(nWalks, nRet)), t) =>
      walk.agg(countDistinct(col("cur")).as("n_distinct_cur"))
        .crossJoin(walks.take(t + 1).map(_.select("cur"))
          .reduce(_ unionAll _)
          .agg(countDistinct(col("cur")).as("n_visited_cum")))
        .crossJoin(nNodes)
        .selectExpr(s"CAST($t AS BIGINT) AS step",
          s"CAST($nWalks AS BIGINT) AS n_walks", "n_distinct_cur",
          s"CAST($nRet AS BIGINT) AS n_returned", "n_visited_cum",
          "CAST(floor(1e6 * CAST(n_visited_cum AS DOUBLE) / n_nodes)" +
            " AS BIGINT) AS coverage_fp")
    }.reduce(_ unionAll _).orderBy("step")
  }

  def randomWalksOracle: String = {
    def coin(salt: String, c: String): String =
      s"CAST('0x' || substr(md5('$salt' || CAST($c AS VARCHAR)), 1, 15)" +
        " AS BIGINT)"
    val iters = (1 to RwSteps).map { t =>
      val p = t - 1
      s"""w$t AS MATERIALIZED (SELECT p.w, e.nbr AS cur
         |  FROM w$p p JOIN ei e ON e.node = p.cur
         |    AND e.idx = ${coin(s"rw:$t:", "p.w")} % e.deg),
         |v$t AS MATERIALIZED (SELECT DISTINCT cur FROM (
         |  SELECT cur FROM v$p UNION ALL SELECT cur FROM w$t))"""
        .stripMargin
    }.mkString(",\n")
    val rowSel = (0 to RwSteps).map { t =>
      s"""SELECT CAST($t AS BIGINT) AS step,
         |  (SELECT count(*) FROM w$t) AS n_walks,
         |  (SELECT count(DISTINCT cur) FROM w$t) AS n_distinct_cur,
         |  (SELECT count(*) FROM w$t WHERE w = cur) AS n_returned,
         |  (SELECT count(*) FROM v$t) AS n_visited_cum,
         |  CAST(floor(1e6 * CAST((SELECT count(*) FROM v$t) AS DOUBLE)
         |    / (SELECT n_nodes FROM nn)) AS BIGINT) AS coverage_fp"""
        .stripMargin
    }.mkString("\n  UNION ALL ")
    s"""WITH c AS (SELECT event_type AS et, date_trunc('hour', ts) AS h,
       |    user_id AS u FROM events GROUP BY 1, 2, 3),
       |capped AS (SELECT et, h, u FROM (SELECT *,
       |    row_number() OVER (PARTITION BY et, h ORDER BY u) AS rn
       |  FROM c) WHERE rn <= $CoocCellCap),
       |e0 AS MATERIALIZED (SELECT a.u AS a, b.u AS b
       |  FROM capped a JOIN capped b
       |    ON a.et = b.et AND a.h = b.h AND a.u < b.u
       |  GROUP BY 1, 2 HAVING count(*) >= $CoocMinCells),
       |ed AS (SELECT a AS node, b AS nbr FROM e0
       |       UNION ALL SELECT b, a FROM e0),
       |ei AS MATERIALIZED (SELECT node, nbr,
       |    row_number() OVER (PARTITION BY node ORDER BY nbr) - 1 AS idx,
       |    count(*) OVER (PARTITION BY node) AS deg
       |  FROM ed),
       |nn AS (SELECT count(DISTINCT node) AS n_nodes FROM ei),
       |w0 AS MATERIALIZED (SELECT node AS w, node AS cur
       |  FROM (SELECT DISTINCT node FROM ei)
       |  WHERE ${coin("rws:", "node")} % $RwStartMod = 0),
       |v0 AS MATERIALIZED (SELECT DISTINCT cur FROM w0),
       |$iters
       |SELECT * FROM ($rowSel) ORDER BY step""".stripMargin
  }
}
