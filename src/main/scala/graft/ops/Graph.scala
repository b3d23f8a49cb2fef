package graft.ops

import graft.core.{Caches, Rounds}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph centrality in exact 64-bit integer ("fixed-point")
  * arithmetic — the web-graph quality tier of corpus curation (centrality
  * over a link/citation/purchase graph is a standard document-quality
  * prior; reference behavior has no graph ops, so this is an engine-edge
  * addition alongside [[Dedup.connectedComponents]]).
  *
  * Why integer fixed-point instead of doubles: PageRank is a sum over
  * in-edges, and IEEE summation is order-dependent — a double-ranked run
  * changes in the last ulps under repartitioning, retries, or a different
  * engine, which (a) breaks the engine's determinism contract for sampling
  * /selection built on top of ranks, and (b) makes an external SQL oracle
  * impossible. Here ranks live in `scale` integer units, every division is
  * an exact floor `div`, every sum is a LongType sum — the result is a
  * pure function of the edge multiset, bit-identical across runs, layouts
  * AND engines. Each floor sheds < 1 unit of mass (≤ 1e-12 relative at the
  * default scale) — far below any ranking-relevant difference; the lost
  * mass simply damps very slightly faster.
  */
object Graph {

  /** Deterministic fixed-point PageRank (Page et al. 1999, "The PageRank
    * citation ranking") with damping d = dampNum/dampDen (default 85/100)
    * run for exactly `iters` power iterations over a weighted directed
    * edge list. Dangling nodes (no out-edges) redistribute their mass
    * uniformly over all nodes each round — the standard sink correction.
    *
    * Recurrence (all integer, `div` = floor division):
    * {{{
    *   r0(v)   = scale div N
    *   base    = ((dampDen - dampNum) * scale) div (dampDen * N)
    *   contrib(u→v, w) = (r(u) * w) div wout(u)
    *   r'(v)   = base + (dampNum * (Σ contrib(·→v) + D div N)) div dampDen
    *             where D = Σ r(u) over dangling u
    * }}}
    *
    * Overflow bounds (64-bit): r(u) ≤ scale, so `r(u) * w` requires
    * `scale * maxEdgeWeight < 2^63` — at the default scale 1e12 that is
    * maxEdgeWeight ≤ ~9.2e6. For heavier edges pass a smaller `scale` or
    * pre-normalize weights (divide by their GCD / bucket them); checked
    * per-row in the plan so a violation fails loudly, never silently.
    *
    * Scale shape: one persisted node table (node, wout) built once; per
    * iteration ONE join of the edge table with the rank vector on `src`
    * followed by ONE groupBy(dst) — the classic Pregel 2-shuffle round
    * with map-side partial aggregation on the contrib sum. The dangling
    * mass is a one-row aggregate broadcast back (`crossJoin(broadcast)`),
    * never a driver round-trip; N is the only driver scalar (one O(1)
    * count on the persisted node table). Each round reads the previous
    * one twice, so [[Rounds.fixed]] pins it, and truncates rank lineage
    * every `checkpointEvery` rounds — without it a 50-iteration plan tree
    * chokes the analyzer long before data size matters. `checkpointDir`
    * picks the truncation medium: default `localCheckpoint` (fast, but
    * truncated lineage dies with a lost executor); set it to reliable
    * storage for production multi-iteration runs — one preempted executor
    * must not kill a 50-iteration job.
    *
    * Output: (node: String, rank_units: Long) — rank in `scale` units.
    */
  def pageRankFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                         wCol: String, iters: Int,
                         scale: Long = 1000000000000L,
                         dampNum: Long = 85L, dampDen: Long = 100L,
                         checkpointEvery: Int = 8,
                         checkpointDir: Option[String] = None): DataFrame =
    pprLoop(edges, srcCol, dstCol, wCol, iters, None, scale,
      dampNum, dampDen, checkpointEvery, checkpointDir)

  /** Personalized (topic-sensitive) PageRank — Haveliwala 2002: identical
    * recurrence, but teleport mass (the base term AND the dangling
    * redistribution) lands only on the `seeds` set instead of uniformly,
    * so ranks measure relevance RELATIVE TO the seeds (the
    * recommendation / related-items shape). Seeds are given as a
    * predicate over the node id, keeping the whole computation one plan;
    * nodes start at `scale div |S|` if seeded, else 0.
    *
    * With `seedPred` true everywhere this reduces exactly to
    * [[pageRankFixedPoint]] (S = V). Same integer-determinism and scale
    * contracts. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           wCol: String, seedPred: Column, iters: Int,
                           scale: Long = 1000000000000L,
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           checkpointEvery: Int = 8,
                           checkpointDir: Option[String] = None): DataFrame =
    pprLoop(edges, srcCol, dstCol, wCol, iters, Some(seedPred), scale,
      dampNum, dampDen, checkpointEvery, checkpointDir)

  /** Per-node triangle counts over an undirected graph given as an edge
    * list (either direction, duplicates and self-loops tolerated — the
    * input is canonicalized to distinct unordered pairs first).
    *
    * Algorithm: degree-ordered orientation (Cohen 2009; Suri &
    * Vassilvitskii WWW 2011 — the standard MapReduce triangle count).
    * Orient every undirected edge from its lower endpoint to its higher
    * endpoint under the total order (degree, node); each triangle then has
    * exactly ONE wedge centered at its lowest-ordered vertex, so joining
    * the oriented wedge set (u→v, u→w) against the oriented edge set on
    * (v, w) counts every triangle exactly once — no /3 correction, no
    * double counting.
    *
    * Why this survives 100 TB graphs: wedge fan-out per node is bounded by
    * the ORIENTED out-degree, which degree-ordering caps at O(√E) even for
    * hubs (a celebrity node with 10⁸ neighbors orients almost all of its
    * edges INWARD, so it centers almost no wedges — the naive per-neighbor
    * self-join would generate 10¹⁶ pairs from that one node). All three
    * stages are plain shuffle joins/aggregations: AQE handles residual
    * skew, map-side combine shrinks the final count. The canonical edge
    * table, the degree table and the oriented edge table are pinned
    * ([[Caches.pin]], dropped by [[Caches.release]]): the oriented table
    * feeds THREE plan branches (both wedge legs + the closing-edge probe)
    * and per-branch filter pushdown makes the subtrees physically
    * distinct, so without materialization Spark
    * re-derives the whole canonicalize→degree→orient pipeline once per
    * branch — measured as a 3× blowup of the pair-generation join.
    *
    * Determinism: the only order used is (degree, node-string) — a pure
    * function of the edge multiset, so counts are bit-identical across
    * runs, partitionings and engines (ASCII node ids compare identically
    * in UTF-16 and UTF-8 collations).
    *
    * Output: (node: String, triangles: Long) — one row per node of the
    * canonicalized graph, zero-count nodes included. */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = Caches.pin(canonicalUndirected(edges, aCol, bCol))
    val deg = Caches.pin(und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val uLower = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = Caches.pin(und
      .join(deg.select(col("node").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), Seq("v"))
      .select(
        when(uLower, col("u")).otherwise(col("v")).as("src"),
        when(uLower, col("v")).otherwise(col("u")).as("dst"),
        // the dst endpoint's degree rides along so the wedge self-join can
        // order its two legs without another deg lookup
        when(uLower, col("dv")).otherwise(col("du")).as("dd")))
    val e1 = oriented.select(col("src"), col("dst").as("x"), col("dd").as("dx"))
    val e2 = oriented.select(col("src"), col("dst").as("y"), col("dd").as("dy"))
    val wedges = e1.join(e2, Seq("src"))
      .where(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"))
      .select(col("src").as("n0"), col("x").as("n1"), col("y").as("n2"))
    val cnt = tris
      .select(explode(array(col("n0"), col("n1"), col("n2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.select(col("node"))
      .join(cnt, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 / Raghavan
    * et al. 2007 "community LPA") over an undirected graph, made fully
    * deterministic: synchronous rounds, each node takes the MAJORITY label
    * among its labeled neighbors, ties broken by the SMALLEST label
    * string; seed nodes are clamped to their given label; a node with no
    * labeled neighbor keeps its current label (null until first reached).
    * Both engines can replay the vote exactly — counts are integers and
    * the tie-break is a total order, so there is none of classic LPA's
    * update-order sensitivity.
    *
    * Scale shape: the directed adjacency (2E rows) and the node spine are
    * built once and persisted; each round is ONE join of the adjacency
    * with the current E-small label table on the neighbor key plus ONE
    * two-level aggregate ((node,label) count, then per-node argmax via
    * min(struct(-cnt, label)) — map-side combinable, window-free). Each
    * round reads the previous one twice (votes and the carried label),
    * so rounds are pinned and truncated exactly as in the PageRank loop,
    * with the same `checkpointEvery` and `checkpointDir` options.
    *
    * Output: (node: String, label: String) — one row per graph node;
    * label null where no seed's influence has reached. */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       seeds: DataFrame, seedNodeCol: String,
                       seedLabelCol: String, iters: Int,
                       checkpointEvery: Int = 8,
                       checkpointDir: Option[String] = None): DataFrame = {
    // directed adjacency, each undirected edge once per direction; a
    // neighbor votes once however many parallel edges the input held
    val adj = Caches.pin(directedAdjacency(canonicalUndirected(edges, aCol, bCol)))
    val seedTab = seeds.select(
        col(seedNodeCol).cast("string").as("node"),
        col(seedLabelCol).cast("string").as("_seed"))
      .where(col("node").isNotNull && col("_seed").isNotNull)
      .groupBy("node").agg(min(col("_seed")).as("_seed")) // dedupe, det.
    val nodes = Caches.pin(adj.select(col("node")).distinct()
      .join(seedTab, Seq("node"), "left"))
    Rounds.fixed(nodes.select(col("node"), col("_seed").as("label")),
        iters, "labels", checkpointEvery, checkpointDir) { (labels, _) =>
      val votes = adj
        .join(labels.where(col("label").isNotNull)
            .select(col("node").as("nbr"), col("label")),
          Seq("nbr"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("_cnt"))
      val picked = votes
        .groupBy("node")
        .agg(min(struct((-col("_cnt")).as("_nc"), col("label")))
          .as("_best"))
        .select(col("node"), col("_best.label").as("_voted"))
      nodes
        .join(labels.select(col("node"), col("label").as("_prev")),
          Seq("node"))
        .join(picked, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("_seed"), col("_voted"), col("_prev")).as("label"))
    }
  }

  /** Deterministic uniform random walks (the DeepWalk/node2vec corpus
    * generator — Perozzi et al. 2014) over an undirected graph:
    * `walksPerNode` walks of `walkLen` steps from every node, where step t
    * of walk (start, r) at node c moves to
    * `nbrs(c)[ md5-60(start:r:t:c) mod deg(c) ]` over c's SORTED distinct
    * neighbor list. Hash-seeded instead of RNG-seeded, so the walk corpus
    * is a pure function of the graph — reproducible across runs, retries,
    * partitionings and engines (the q106 oracle replays every hop).
    *
    * Scale shape: the adjacency-list table (node → sorted nbr array) is
    * built once and persisted; each step is ONE hash join of the
    * walk-frontier (N·walksPerNode rows of (start, walk, cur) — hop
    * state only, NEVER the accumulated path) against it, L steps =
    * L joins — the standard distributed walk loop. Each hop emits its
    * (start, walk, t, node) rows into an accumulating hop table instead
    * of dragging a growing path string through every join (which would
    * shuffle O(walkLen²) bytes per walk and inflate frontier-join skew
    * at DeepWalk-scale walk lengths of 40–80); paths are assembled ONCE
    * at the end by a single groupBy + in-group sort on t. Every hop's
    * frontier is pinned or, every `checkpointEvery` steps, truncated —
    * with the same `checkpointDir` reliable-storage option as the
    * PageRank loop — and kept until the result is consumed, so each hop
    * row is computed exactly once even though both the next hop and the
    * final assembly read it. NOTE for
    * power-law graphs: the neighbor ARRAY of a celebrity node is held in
    * one row; beyond ~10⁶ neighbors, pre-cap the adjacency (e.g. keep the
    * maxDegree smallest md5-60(nbr) per node — itself deterministic)
    * before walking, as production walk engines do.
    *
    * Output: (start: String, walk: Int, path: String) — path is the
    * space-joined node sequence, walkLen+1 nodes. */
  def randomWalks(edges: DataFrame, aCol: String, bCol: String,
                  walksPerNode: Int, walkLen: Int,
                  checkpointEvery: Int = 8,
                  checkpointDir: Option[String] = None): DataFrame = {
    val adjl = directedAdjacency(canonicalUndirected(edges, aCol, bCol))
      .groupBy("node")
      .agg(sort_array(collect_set(col("nbr"))).as("nbrs"))
    walksFromAdj(adjl, walksPerNode, walkLen, checkpointEvery, checkpointDir)
  }

  /** Walk loop over a (node, nbr) adjacency reduced to sorted-array lists;
    * shared by [[randomWalks]] and [[randomWalksAgainstIndex]]. Hop t's
    * frontier is round t; `keepHistory` keeps every round the final
    * assembly reads. */
  private def walksFromAdj(adjLists: DataFrame, walksPerNode: Int,
                           walkLen: Int, checkpointEvery: Int,
                           checkpointDir: Option[String]): DataFrame = {
    require(walksPerNode >= 1 && walkLen >= 0, "need walks >= 1, len >= 0")
    val adjl = Caches.pin(adjLists)
    val start = adjl.select(col("node").as("start"),
        explode(sequence(lit(0), lit(walksPerNode - 1))).as("walk"))
      .select(col("start"), col("walk").cast("int").as("walk"),
        col("start").as("cur"))
    val hops = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def hop(frontier: DataFrame, t: Int): DataFrame =
      frontier.select(col("start"), col("walk"), lit(t).as("t"),
        col("cur").as("node"))
    val last = Rounds.fixed(start, walkLen, "walk", checkpointEvery,
        checkpointDir, keepHistory = true) { (frontier, r) =>
      hops += hop(frontier, r - 1)
      val key = concat(col("start"), lit(":"), col("walk").cast("string"),
        lit(":"), lit((r - 1).toString), lit(":"), col("cur"))
      frontier
        .join(adjl.select(col("node").as("cur"), col("nbrs")), Seq("cur"))
        .select(col("start"), col("walk"),
          element_at(col("nbrs"),
            (pmod(Dedup.md5Hash60(key), size(col("nbrs")).cast("long")) + 1)
              .cast("int")).as("cur"))
    }
    hops += hop(last, walkLen)
    // One shuffle carries each hop row exactly once; t is unique within a
    // (start, walk) group, so the struct sort is a total order and the
    // assembled path is deterministic under any collect_list order.
    hops.reduce(_ unionAll _)
      .groupBy(col("start"), col("walk"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("t"), col("node")))),
          x => x.getField("node")), " ").as("path"))
      .select(col("start"), col("walk"), col("path"))
  }

  /** The k-core of an undirected graph — the maximal subgraph in which
    * every node has degree ≥ k (Seidman 1983; the standard graph-cleanup
    * / cohesion filter: everything outside the core is tree-like fringe).
    * Computed by iterative peeling to the FIXPOINT: drop nodes with
    * degree < k, restrict edges to survivors, repeat. The result is the
    * true k-core regardless of peel order, so it is a pure function of
    * the edge multiset — deterministic and oracle-replayable (an oracle
    * unrolls more peels than the data needs; peeling a fixpoint is the
    * identity, so over-unrolling is harmless).
    *
    * Scale shape: each round is ONE degree aggregate + one two-sided
    * semi-join of the edge set against surviving nodes; the round's edge
    * set is eagerly truncated (a [[Rounds.fixpoint]] loop: it is counted
    * anyway for the fixpoint test; default `localCheckpoint`, reliable
    * `checkpointDir` for production runs — same contract as the PageRank
    * loop), so plan depth stays constant however many peels the fringe
    * cascade takes. Rounds are data-dependent but bounded by the longest
    * elimination chain — O(peel depth), typically ≪ n; a run that needs
    * more than `maxIter` peels throws instead of returning a non-core.
    *
    * Output: (node: String, deg_in_core: Long) — core members with their
    * within-core degrees; empty when no k-core exists. */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxIter: Int = 200,
            checkpointDir: Option[String] = None): DataFrame =
    kCoreCanon(canonicalUndirected(edges, aCol, bCol), k, maxIter,
      checkpointDir)

  private def kCoreCanon(canon: DataFrame, k: Int, maxIter: Int,
                         checkpointDir: Option[String]): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val core = Rounds.fixpoint(canon, maxIter, "kCore", checkpointDir) {
        cur =>
      val keep = directedAdjacency(cur)
        .groupBy("node").agg(count(lit(1)).as("_deg"))
        .where(col("_deg") >= k)
        .select(col("node"))
      cur
        .join(keep.select(col("node").as("u")), Seq("u"))
        .join(keep.select(col("node").as("v")), Seq("v"))
        .select(col("u"), col("v"))
    }(_.count())((before, after) => after == before || after == 0)
    directedAdjacency(core)
      .groupBy("node").agg(count(lit(1)).as("deg_in_core"))
  }

  /** Common-neighbor counts for node pairs — the classic link-prediction
    * / related-items score (Liben-Nowell & Kleinberg 2003): pairs (a, b)
    * with ≥ `minCommon` shared neighbors, counting only shared neighbors
    * whose degree is ≤ `maxDeg`. The degree cap is the production
    * approximation that makes this survive power-law graphs: a 10⁸-degree
    * hub would otherwise contribute C(10⁸, 2) wedge pairs while carrying
    * almost no similarity signal (co-occurring at a mega-hub is not
    * evidence of relatedness — the same reasoning as IDF). With
    * `maxDeg` ≥ the graph's max degree the counts are exact.
    *
    * Scale shape: wedge pairs are generated per qualifying CENTER, so the
    * blow-up is bounded by maxDeg² per node; one map-side-combinable
    * groupBy counts them. Deterministic — pure function of the edge
    * multiset and the two thresholds.
    *
    * Output: (node_a, node_b, common: Long) with node_a < node_b. */
  def commonNeighborPairs(edges: DataFrame, aCol: String, bCol: String,
                          maxDeg: Int, minCommon: Int): DataFrame = {
    require(maxDeg >= 1 && minCommon >= 1, "need maxDeg >= 1, minCommon >= 1")
    val adj = Caches.pin(directedAdjacency(canonicalUndirected(edges, aCol, bCol)))
    val centers = adj.groupBy("node").agg(count(lit(1)).as("_deg"))
      .where(col("_deg") <= maxDeg)
      .select(col("node"))
    val capped = adj.join(centers, Seq("node"))
    val e1 = capped.select(col("node"), col("nbr").as("node_a"))
    val e2 = capped.select(col("node"), col("nbr").as("node_b"))
    e1.join(e2, Seq("node"))
      .where(col("node_a") < col("node_b"))
      .groupBy("node_a", "node_b")
      .agg(count(lit(1)).as("common"))
      .where(col("common") >= minCommon)
  }

  // ── persisted graph spine (fit-once / serve-many) ──────────────────────

  /** Write the graph's canonical spine ONCE — the fit-once/serve-many
    * contract the ANN tier established ([[Similarity.ivfIndex]] persists,
    * `ivfTopKAgainstIndex` serves), applied to graphs: every
    * `*AgainstIndex` op below starts from these tables instead of
    * re-running canonicalize (cast → null/self-loop filter → least/
    * greatest → distinct, a full shuffle of the raw edge list) per query.
    * Two bucketed+sorted managed parquet tables are written:
    *
    *  - `<prefix>_edges` — the canonical undirected edge set (u, v) with
    *    u < v, bucketed by u: the input shape of [[kCore]] peeling and of
    *    the doubled-edge PageRank below;
    *  - `<prefix>_adj` — the directed adjacency (node, nbr), bucketed AND
    *    sorted by node: groupBy(node)/join(node) consumers (degrees,
    *    wedge generation, frontier joins) plan without an exchange on the
    *    bucket key.
    *
    * Size `buckets` so one adjacency bucket fits a task (the
    * [[graft.sources.Bucketed]] sizing rule); all consumers of one spine
    * see the same bucketing, so repeated graph queries amortize the
    * canonicalization shuffle to zero — the q73/q94 storage contract. */
  def graphIndex(edges: DataFrame, aCol: String, bCol: String,
                 tablePrefix: String, buckets: Int = 32): Unit = Caches.scoped {
    val canon = Caches.pin(canonicalUndirected(edges, aCol, bCol))
    graft.sources.Bucketed.writeBucketed(canon, s"${tablePrefix}_edges",
      "u", buckets, Seq("u", "v"))
    graft.sources.Bucketed.writeBucketed(directedAdjacency(canon),
      s"${tablePrefix}_adj", "node", buckets, Seq("node", "nbr"))
  }

  /** Merge NEW edges into an existing spine WITHOUT a full rebuild — the
    * recurring-crawl contract (the q107 snapshot-diff story applied to
    * the graph tier): a daily crawl delta must not re-canonicalize the
    * whole history. The delta is canonicalized, anti-joined against the
    * stored edge table (the spine stays an exact DISTINCT pair set —
    * re-crawled, reversed, or self-loop edges all drop out), and the
    * truly-new pairs plus their adjacency rows are APPENDED into the
    * bucketed tables under the tables' own catalog bucket spec. Every
    * `*AgainstIndex` op is a pure function of the stored edge SET, so an
    * appended spine serves results bit-identical to a full rebuild over
    * the union (GraphSpec pins this).
    *
    * Cost shape: canonicalizing the DELTA shuffles delta-sized data; the
    * dedup anti-join is one scan of the stored edge table (bucketed on u
    * — no exchange on the stored side) — O(spine) read, never the
    * O(full-history) canonicalize+distinct shuffle a rebuild pays. Each
    * append adds one file set per bucket; bucketing (the exchange-free
    * property every consumer plans around) is preserved, but multi-file
    * buckets forfeit the single-file sorted-scan shortcut — after many
    * appends, re-run [[graphIndex]] once as compaction (the lake-hygiene
    * Compaction contract). */
  def graphIndexAppend(spark: org.apache.spark.sql.SparkSession,
                       newEdges: DataFrame, aCol: String, bCol: String,
                       tablePrefix: String): Unit = {
    val edgesTable = s"${tablePrefix}_edges"
    val adjTable = s"${tablePrefix}_adj"
    val spec = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(edgesTable))
      .bucketSpec
      .getOrElse(throw new IllegalArgumentException(
        s"graphIndexAppend: $edgesTable has no bucket spec — not a graphIndex spine"))
    def appendBucketed(df: DataFrame, table: String, key: String,
                       sortCols: Seq[String]): Unit =
      df.repartition(spec.numBuckets, df(key)).write.mode("append")
        .bucketBy(spec.numBuckets, key)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .format("parquet")
        .saveAsTable(table)
    // The canonical delta is CHECKPOINTED (not persisted): each append
    // below invalidates every cached plan that reads the appended table,
    // so a cached anti-join would silently recompute against the
    // already-updated spine (= empty) for the second write. Each table
    // then dedups against ITSELF, which also makes the append idempotent
    // — a crash between the two writes repairs on re-run (whichever
    // table is behind receives exactly its missing rows).
    Caches.scoped {
      val canon = Caches.checkpoint(canonicalUndirected(newEdges, aCol, bCol))
      appendBucketed(
        canon.join(spark.table(edgesTable), Seq("u", "v"), "left_anti"),
        edgesTable, "u", Seq("u", "v"))
      appendBucketed(
        directedAdjacency(canon)
          .join(spark.table(adjTable), Seq("node", "nbr"), "left_anti"),
        adjTable, "node", Seq("node", "nbr"))
    }
  }

  /** Fixed-point PageRank over a persisted spine: each canonical
    * undirected edge contributes BOTH unit-weight directions (the
    * standard undirected-PageRank convention — no dangling nodes exist,
    * every spine node has ≥ 1 neighbor). Bit-identical to
    * `pageRankFixedPoint` on the doubled canonical edge list (spec-pinned),
    * minus the per-query canonicalization. */
  def pageRankAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                           tablePrefix: String, iters: Int,
                           scale: Long = 1000000000000L,
                           dampNum: Long = 85L, dampDen: Long = 100L,
                           checkpointEvery: Int = 8,
                           checkpointDir: Option[String] = None): DataFrame = {
    val und = spark.table(s"${tablePrefix}_edges")
    val both = und.select(col("u").as("src"), col("v").as("dst"),
        lit(1L).as("w"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst"),
        lit(1L).as("w")))
    pprLoop(both, "src", "dst", "w", iters, None, scale, dampNum, dampDen,
      checkpointEvery, checkpointDir)
  }

  /** [[kCore]] served from a persisted spine — peeling starts directly on
    * the stored canonical edge table. */
  def kCoreAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                        tablePrefix: String, k: Int, maxIter: Int = 200,
                        checkpointDir: Option[String] = None): DataFrame =
    kCoreCanon(spark.table(s"${tablePrefix}_edges"), k, maxIter,
      checkpointDir)

  /** [[randomWalks]] served from a persisted spine — the sorted
    * neighbor-list build reads the bucketed adjacency exchange-free
    * (grouping key == bucket key); the spine's distinct canonical pairs
    * make collect_set ≡ collect_list, so walks are bit-identical to the
    * direct op. */
  def randomWalksAgainstIndex(spark: org.apache.spark.sql.SparkSession,
                              tablePrefix: String, walksPerNode: Int,
                              walkLen: Int, checkpointEvery: Int = 8,
                              checkpointDir: Option[String] = None): DataFrame =
    walksFromAdj(
      spark.table(s"${tablePrefix}_adj")
        .groupBy("node")
        .agg(sort_array(collect_set(col("nbr"))).as("nbrs")),
      walksPerNode, walkLen, checkpointEvery, checkpointDir)

  /** Canonical undirected edge set shared by every undirected-graph op:
    * distinct (u, v) string pairs with u < v; nulls, self-loops,
    * duplicates and reversed duplicates all collapse here, so each op
    * sees exactly one row per unordered pair. */
  private def canonicalUndirected(edges: DataFrame, aCol: String,
                                  bCol: String): DataFrame =
    edges.select(
        col(aCol).cast("string").as("_a"), col(bCol).cast("string").as("_b"))
      .where(col("_a").isNotNull && col("_b").isNotNull &&
        col("_a") =!= col("_b"))
      .select(least(col("_a"), col("_b")).as("u"),
        greatest(col("_a"), col("_b")).as("v"))
      .distinct()

  /** Both directions of a canonical edge set as (node, nbr) rows. */
  private def directedAdjacency(und: DataFrame): DataFrame =
    und.select(explode(array(
        struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node"), col("e.nbr"))

  private def pprLoop(edges: DataFrame, srcCol: String, dstCol: String,
                      wCol: String, iters: Int, seedPred: Option[Column],
                      scale: Long, dampNum: Long, dampDen: Long,
                      checkpointEvery: Int,
                      checkpointDir: Option[String]): DataFrame = {
    require(scale > 0 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      "need scale > 0 and 0 <= dampNum <= dampDen")

    val e = Caches.pin(edges.select(
        col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(wCol).cast("long").as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull && col("w") > 0))

    // (node, wout, _seed) — wout null marks a dangling node. Built once,
    // reused every round (it is the join spine of the whole loop).
    val outw = e.groupBy("src").agg(sum("w").as("wout"))
    val nodes = Caches.pin(e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node")))
      .distinct()
      .join(outw.withColumnRenamed("src", "node"), Seq("node"), "left")
      .withColumn("_seed", seedPred.getOrElse(lit(true))))

    // Two O(1)-result agg jobs on the persisted spine — the only driver
    // scalars in the loop.
    val cnt = nodes.agg(count(lit(1)),
      coalesce(sum(when(col("_seed"), 1L).otherwise(0L)), lit(0L))).head()
    val (n, nSeed) = (cnt.getLong(0), cnt.getLong(1))
    if (n == 0) {
      Caches.unpin(e); Caches.unpin(nodes)
      return edges.sparkSession.createDataFrame(
        edges.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("node",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("rank_units",
            org.apache.spark.sql.types.LongType))))
    }
    require(nSeed > 0, "personalizedPageRank: seed predicate matched no node")
    val base = ((dampDen - dampNum) * scale) / (dampDen * nSeed)
    val maxW = scala.Long.MaxValue / scale
    val seedBase = when(col("_seed"), lit(base)).otherwise(lit(0L))
    val r0 = nodes.select(col("node"), col("wout"), col("_seed"),
      when(col("_seed"), lit(scale / nSeed)).otherwise(lit(0L)).as("r"))

    Rounds.fixed(r0, iters, "pagerank", checkpointEvery, checkpointDir) {
        (r, _) =>
      val dang = r.where(col("wout").isNull)
        .agg(coalesce(sum("r"), lit(0L)).as("_d"))
      val insum = e
        .join(r.select(col("node"), col("r"), col("wout")),
          e("src") === col("node"))
        .select(col("dst"),
          expr(s"(r * if(w <= ${maxW}L, w, " +
            "raise_error('pageRankFixedPoint: edge weight overflows " +
            "scale*w; lower scale or normalize weights'))) div wout")
            .as("_c"))
        .groupBy("dst").agg(sum("_c").as("_insum"))
      nodes
        .join(insum.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .crossJoin(broadcast(dang))
        .select(col("node"), col("wout"), col("_seed"),
          (seedBase +
            expr(s"($dampNum * (coalesce(_insum, 0L) + " +
              s"if(_seed, _d div ${nSeed}L, 0L))) div $dampDen")).as("r"))
    }.select(col("node"), col("r").as("rank_units"))
  }
}
