package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Graph analytics over corpus-derived graphs — the iterative
  * big-big-join family (PageRank-style power iteration) the engine's
  * dedup side already half-has (q47's connected components) expressed
  * as a first-class operator.
  *
  * q96 runs TextRank-flavoured PageRank (Page et al. 1999; Mihalcea &
  * Tarau, EMNLP 2004) over the doc↔term bipartite incidence graph:
  * keyword salience by graph centrality rather than q51's TF-IDF — the
  * two standard corpus keyword extractors, side by side.
  *
  * Exactness contract: all rank mass is integer (a 10^12 total split by
  * `div`), so every per-iteration sum is an order-insensitive long
  * addition and the result hash-matches a DuckDB oracle that unrolls
  * the same iterations as chained CTEs (q74's Lloyd-round pattern).
  * No doubles anywhere until nothing is left to compute.
  *
  * Scale shape (the canonical distributed PageRank plan):
  *  - the adjacency list is materialized ONCE with the source degree
  *    attached, hash-partitioned by source and persisted — iterations
  *    never re-derive or re-shuffle it;
  *  - each iteration is one co-partitioned join plus ONE shuffle (the
  *    contribution aggregation — whose `groupBy(node)` output arrives
  *    at the next round's join already hash-partitioned on the key).
  *    Because the symmetric bipartite graph gives EVERY node an
  *    in-neighbor, the aggregation output already covers every node —
  *    no node-preserving outer join, the rounds chain linearly.
  *  - Per-round materialization is ADAPTIVE, decided by the node count
  *    the driver already holds: small graphs run the 3 rounds as one
  *    lazy linear job (per-round `localCheckpoint` is pure scheduling
  *    overhead there — measured 1.4 s vs 3.3 s at sf0.1), big graphs
  *    checkpoint each round (q47's pattern — measured 14.6 s vs 30.8 s
  *    lazy on the x100 corpus, where carrying three rounds of live
  *    shuffle through one job loses to eager truncation). The
  *    100 000-node threshold sits two orders of magnitude below the
  *    crossover's scale, conservatively on the eager side. Results are
  *    identical either way — only the plan shape switches;
  *  - node ids are dictionary-encoded LONGS (docs on the even ids,
  *    terms on the odd ones via a vocabulary-bounded lexicographic
  *    dictionary): every per-round join/shuffle keys on 8 bytes
  *    instead of a tagged string, and the dictionary is consulted
  *    exactly twice — once to encode the edge list, once to decode the
  *    FINAL top-50 (term ids are assigned in term order, so the
  *    pre-decode (pr desc, id asc) tie-break IS the (pr desc, term asc)
  *    output order). The oracle keeps the tagged-string formulation —
  *    the result is id-representation-independent, so the hash match
  *    additionally proves the encoding is lossless. The dictionary
  *    build is one vocabulary-scale ROW_NUMBER window (single
  *    partition over DISTINCT terms — Heaps-law bounded; an extreme
  *    vocabulary would range-partition the sort, q70's two-level
  *    remedy).
  */
object GraphOps {

  /** Total integer rank mass distributed across the graph. */
  private val Mass = 1000000000000L
  /** Fixed power-iteration count (unrolled identically in the oracle). */
  private val Iters = 3
  /** Top keyword rows emitted. */
  private val TopK = 50

  private val q96 = Q(
    fn = (s, d) => {
      import s.implicits._
      // persisted: the corpus explode feeds the dictionary build, the
      // degree count and the adjacency materialization — without the
      // persist each would re-scan and re-explode every document
      // (q18's scoped-persist pattern; released in the finally)
      val inc = Tables.documents(s, d)
        .select($"doc_id", explode(array_distinct(split($"text", " "))).as("term"))
        .persist()
      // lexicographic term dictionary: tid order == term order, so the
      // final tie-break can run on ids before decoding
      val dict = inc.select($"term").distinct()
        .withColumn("tid", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy($"term")).cast("long"))
        .localCheckpoint()
      val e0 = inc.join(dict, "term")
        .select(($"doc_id" * 2).as("u"), ($"tid" * 2 + 1).as("v"))
      val edges = e0.unionByName(e0.select($"v".as("u"), $"u".as("v")))
      val deg = edges.groupBy($"u").agg(count(lit(1)).as("deg"))
      // adjacency with source degree attached, partitioned by source once
      val adj = edges.join(deg, "u").repartition($"u").persist()
      try {
        val n = deg.count() // every node of this graph has degree >= 1
        val init = Mass / n
        val teleport = (15L * init) / 100L
        val eagerRounds = n >= 100000
        var ranks = deg.select($"u".as("node")).withColumn("pr", lit(init))
        for (_ <- 1 to Iters) {
          // symmetric edges => every node has an in-neighbor, so the
          // aggregation output is already a complete rank table (the
          // oracle's LEFT JOIN + COALESCE never fires, on either side)
          val next = adj.join(ranks, adj("u") === ranks("node"))
            .select($"v", expr("pr div deg").as("c"))
            .groupBy($"v".as("node")).agg(sum($"c").as("c"))
            .select($"node",
              (lit(teleport) + expr("(85 * c) div 100")).as("pr"))
          ranks = if (eagerRounds) next.localCheckpoint() else next
        }
        // the lazy path materializes ONCE here, while `adj` is still
        // persisted — returning an unexecuted chain would let the
        // `finally` unpersist fire first and the three join legs would
        // each re-derive the adjacency at action time (the eager path's
        // last round already checkpointed)
        if (!eagerRounds) ranks = ranks.localCheckpoint()
        // select the winners on ids (odd = term; id asc == term asc by
        // dictionary construction), decode only the TopK rows
        val top = ranks.filter($"node" % 2 === 1)
          .orderBy($"pr".desc, $"node".asc)
          .limit(TopK)
        // decode: the TopK rows ride as the broadcast side against the
        // vocabulary-scale dictionary (never the reverse)
        dict.join(broadcast(top),
            top("node") === dict("tid") * 2 + 1)
          .select($"term", $"pr")
          .orderBy($"pr".desc, $"term".asc)
      } finally { adj.unpersist(); inc.unpersist() }
    },
    oracle = Some {
      val iters = (1 to Iters).map { i =>
        s"""c$i AS (
        SELECT e.v AS node, CAST(SUM(r.pr // d.deg) AS BIGINT) AS c
        FROM r${i - 1} r JOIN edges e ON e.u = r.node JOIN deg d ON d.u = e.u
        GROUP BY e.v
      ), r$i AS (
        SELECT r.node,
               CAST((15 * (1000000000000 // n.n)) // 100
                 + (85 * COALESCE(c$i.c, 0)) // 100 AS BIGINT) AS pr
        FROM r${i - 1} r LEFT JOIN c$i ON c$i.node = r.node, n
      )"""
      }.mkString(", ")
      s"""
      WITH raw AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
      ), inc AS (
        SELECT DISTINCT doc_id, term FROM raw
      ), e0 AS (
        SELECT 'd:' || CAST(doc_id AS VARCHAR) AS u, 't:' || term AS v FROM inc
      ), edges AS (
        SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0
      ), deg AS (
        SELECT u, COUNT(*) AS deg FROM edges GROUP BY u
      ), n AS (
        SELECT COUNT(*) AS n FROM deg
      ), r0 AS (
        SELECT u AS node, 1000000000000 // n.n AS pr FROM deg, n
      ), $iters
      SELECT substring(node, 3) AS term, pr
      FROM r$Iters WHERE node LIKE 't:%'
      ORDER BY pr DESC, term LIMIT $TopK"""
    })

  /** (l_orderkey, l_partkey) rows → one order's distinct item set as a
    * sorted array — single-scan, one exchange on the basket key. Shared
    * base of q117's edge list and q126's weights + supports. */
  private def baskets(li: DataFrame): DataFrame = {
    import li.sparkSession.implicits._
    li.groupBy($"l_orderkey")
      .agg(sort_array(collect_set($"l_partkey")).as("ps"))
  }

  /** Shared oracle prelude for the co-purchase-graph family (q117/q127)
    * — distinct baskets → distinct pairs → degrees → (deg, id)
    * orientation → wedges → per-triangle rows `tri(apex, pa, pb)` —
    * kept in one string ([[graft.queries.VectorOps]]'s kmeansOracleCtes
    * pattern) so both hash checks verify the SAME replayed construction
    * as the single Spark-side [[orientedGraphCached]] artifact. */
  private def graphOracleCtes: String = """
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), pr AS (
        SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      ), deg AS (
        SELECT u, COUNT(*) AS deg FROM (
          SELECT pa AS u FROM pr UNION ALL SELECT pb FROM pr) GROUP BY u
      ), o AS (
        SELECT CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pa ELSE e.pb END AS src,
               CASE WHEN (da.deg, e.pa) < (db.deg, e.pb) THEN e.pb ELSE e.pa END AS dst
        FROM pr e JOIN deg da ON da.u = e.pa JOIN deg db ON db.u = e.pb
      ), wed AS (
        SELECT e1.src AS apex, e1.dst AS pa, e2.dst AS pb
        FROM o e1 JOIN o e2 ON e1.src = e2.src AND e1.dst < e2.dst
      ), tri AS (
        SELECT apex, pa, pb FROM wed JOIN pr USING (pa, pb))"""

  /** [[baskets]] persisted once per dataset: the basket collapse is the
    * shared first stage of q126's weights/supports AND the oriented
    * graph build — one lineitem scan + one exchange total across the
    * whole graph family. */
  private def basketsCached(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    Tables.parquet(s, IndexCache.artifact("baskets", d) { p =>
      baskets(Tables.lineitem(s, d)).write.mode("overwrite").parquet(p)
    })

  /** In-row basket pair explode over a [[baskets]] frame (pa < pb,
    * ≤ C(7,2) pairs per TPC-H order) — the self-join form scanned
    * lineitem twice and paid two join exchanges (measured 1.7 s vs
    * 1.0 s steady at sf0.1). One occurrence per containing order;
    * q117 distincts, q126 counts. */
  private def pairExplode(bk: DataFrame): DataFrame = {
    import bk.sparkSession.implicits._
    bk.select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS pa, y AS pb))))"))
        .as("e"))
      .select($"e.pa", $"e.pb")
  }

  /** The distinct co-purchase graph, degree-oriented, with its sorted
    * out-adjacency — built ONCE per dataset and persisted as a 3-table
    * parquet artifact ([[graft.queries.IndexCache]], the
    * kmeansAssignCached pattern): q117's per-node ranking and q127's
    * global summary consume the same deg/o/adj, so the basket
    * explode, orientation joins and adjacency sort never run twice in a
    * bench pass or a serving loop. The raw edge list is build-local
    * (n_edges derives as deg-mass div 2 — see the inline note).
    * Returned frames: (deg(u,deg), o(src,dst), adj(src,adj)). */
  private def orientedGraphCached(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val root = IndexCache.artifact("copurchase", d) { p =>
      val edges = pairExplode(basketsCached(s, d)).distinct().localCheckpoint()
      val deg = edges.select($"pa".as("u")).unionByName(edges.select($"pb".as("u")))
        .groupBy($"u").agg(count(lit(1)).as("deg"))
        .localCheckpoint()
      val o = edges
        .join(deg.select($"u".as("pa"), $"deg".as("da")), Seq("pa"))
        .join(deg.select($"u".as("pb"), $"deg".as("db")), Seq("pb"))
        .select(
          when(struct($"da", $"pa") < struct($"db", $"pb"), $"pa").otherwise($"pb").as("src"),
          when(struct($"da", $"pa") < struct($"db", $"pb"), $"pb").otherwise($"pa").as("dst"))
        .localCheckpoint()
      // the raw edge list is NOT persisted: no consumer reads it
      // (n_edges derives as deg_mass div 2), so the largest table of
      // the four never hits disk
      deg.write.mode("overwrite").parquet(s"$p/deg")
      o.write.mode("overwrite").parquet(s"$p/o")
      o.groupBy($"src").agg(sort_array(collect_list($"dst")).as("adj"))
        .write.mode("overwrite").parquet(s"$p/adj")
    }
    (Tables.parquet(s, s"$root/deg"),
      Tables.parquet(s, s"$root/o"), Tables.parquet(s, s"$root/adj"))
  }

  /** Q117 — triangle counting + local clustering coefficient over the
    * part co-purchase graph (parts sharing an order), via the
    * degree-oriented wedge-closure algorithm (Suri & Vassilvitskii,
    * "Counting Triangles and the Curse of the Last Reducer", WWW'11;
    * node-iterator++ in Schank & Wagner's taxonomy). Triangle density is
    * the community-structure diagnostic CC (q47) and PageRank (q96)
    * can't see: it distinguishes a hub that bridges strangers from a
    * clique member, and `local_cc = 2·tri / (deg·(deg−1))` is the
    * standard per-node form (Watts & Strogatz, Nature 1998).
    *
    * Why orientation matters at scale: counting each triangle once via
    * its (degree, id)-minimum corner caps per-node wedge generation at
    * C(outdeg, 2) where Σ outdeg² ≤ O(m^1.5) for ANY degree
    * distribution — the naive undirected wedge join is Σ deg², which a
    * single celebrity node turns quadratic ("the curse of the last
    * reducer" is precisely this asymmetry). The (deg, id) pair is a
    * total order, so ties never drop or double-count a triangle.
    *
    * Plan shape (the compact-adjacency variant of the oriented
    * algorithm): per-order pair generation is bounded-quadratic per key
    * (TPC-H caps lineitems per order at 7; a pathological basket feed
    * would cap or sample items per basket first — q115's
    * distinct-collapse lesson). Out-adjacency N+(u) is collected ONCE as
    * a sorted long array per node; each ORIENTED EDGE (u→v) then
    * computes W = N+(u) ∩ N+(v) with the native merge kernel — each
    * triangle {a<b<c} materializes exactly once, at its (a→b) base edge
    * (c ∈ N+(a) ∩ N+(b); the other two edges see no common
    * out-neighbor). Corner credit: u and v each take |W|, every w ∈ W
    * takes 1. Against the classical wedge self-join this replaces the
    * Σ C(outdeg, 2) wedge materialization + closure shuffle (41 M rows
    * at sf0.1, measured) with kernel merge passes inside the edge scan
    * and ~3·Δ output rows — the PqScanTopK lesson applied to graphs;
    * measured 6.5 s → ~2 s at sf0.1. The adjacency table is
    * node-bounded and AQE broadcasts it at test scale; at a scale where
    * it exceeds broadcast the join degrades to hash-shuffle (fat rows —
    * at which point the wedge-join form with its skinny rows becomes
    * competitive again; both are lossless, this default wins everywhere
    * the adjacency is within ~2 orders of broadcast). Per-node agg
    * buffers are outdeg-bounded: orientation sends edges toward higher
    * (deg, id), so a celebrity node's IN-neighbors never collect.
    * All counts long; the clustering coefficient is the single double
    * division, on identical operands in both engines.
    */
  private val q117 = Q(
    fn = (s, d) => {
      import s.implicits._
      val (deg, o, outAdj) = orientedGraphCached(s, d)
      // inner joins: an edge whose endpoint has no out-neighbors can
      // close no triangle at this base (its W would be empty)
      val withW = o
        .join(outAdj.select($"src", $"adj".as("adj_u")), Seq("src"))
        .join(outAdj.select($"src".as("dst"), $"adj".as("adj_v")), Seq("dst"))
        .select($"src".as("u"), $"dst".as("v"),
          graft.functions.expressions.sorted_intersect($"adj_u", $"adj_v").as("ws"))
        .withColumn("cnt", size($"ws").cast("long"))
        .filter($"cnt" > 0)
      // all three corners' credits in ONE pass over the edge scan (a
      // 3-way union of projections would recompute the intersect joins
      // per leg): u and v take |W|, every w in W takes 1
      val perNode = withW
        .select(explode(concat(
          array(struct($"u".as("node"), $"cnt".as("c")),
            struct($"v".as("node"), $"cnt".as("c"))),
          transform($"ws", w => struct(w.as("node"), lit(1L).as("c"))))).as("e"))
        .groupBy($"e.node".as("node")).agg(sum($"e.c").as("n_tri"))
      perNode.join(deg, $"node" === $"u")
        .select($"node".as("partkey"), $"deg", $"n_tri",
          (($"n_tri" * 2).cast("double") / ($"deg" * ($"deg" - 1)).cast("double"))
            .as("local_cc"))
        .orderBy($"n_tri".desc, $"partkey".asc)
        .limit(50)
    },
    oracle = Some(graphOracleCtes + """,
      corners AS (
        SELECT u, COUNT(*) AS n_tri FROM (
          SELECT unnest([apex, pa, pb]) AS u FROM tri) GROUP BY u)
      SELECT c.u AS partkey, CAST(d.deg AS BIGINT) AS deg,
             CAST(c.n_tri AS BIGINT) AS n_tri,
             CAST(c.n_tri * 2 AS DOUBLE) / CAST(d.deg * (d.deg - 1) AS DOUBLE)
               AS local_cc
      FROM corners c JOIN deg d ON d.u = c.u
      ORDER BY n_tri DESC, partkey ASC
      LIMIT 50"""))

  /** Q126 — item-to-item co-purchase similarity: for every part, the
    * top-5 most-similar parts by the Ochiai/cosine coefficient
    * w / √(n_a·n_b) over order baskets — Amazon's classic item-based
    * collaborative filter (Linden, Smith & York, IEEE Internet
    * Computing 2003), computed exactly: w = orders containing both
    * (q117's pair generation, weights kept), n_x = orders containing x.
    * A support floor (w ≥ 2) drops one-off co-occurrences, the noise
    * floor item-item CF always applies.
    *
    * Scale shape: single-scan in-row pair explode (≤ C(7,2) per order),
    * weight count map-side; the similarity join runs on the
    * |parts|-bounded support table twice; top-5 per item is a
    * WindowGroupLimit over the symmetrized pair list (never a global
    * sort). The sqrt and the division are the only double ops — on
    * identical operands in both engines (exact long product underneath).
    */
  private val q126 = Q(
    fn = (s, d) => {
      import s.implicits._
      // one lineitem scan PER DATASET: the basket artifact feeds the
      // pair weights, the per-part supports (exploding the deduplicated
      // arrays replaces a (part, order)-distinct shuffle) and the
      // oriented-graph build of q117/q127
      val bk = basketsCached(s, d)
      val pairs = pairExplode(bk)
        .groupBy($"pa", $"pb")
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 2)
      val support = bk.select(explode($"ps").as("p"))
        .groupBy($"p").agg(count(lit(1)).as("n"))
      val sym = pairs.unionByName(
        pairs.select($"pb".as("pa"), $"pa".as("pb"), $"w"))
      val scored = sym
        .join(support.select($"p".as("pa"), $"n".as("na")), Seq("pa"))
        .join(support.select($"p".as("pb"), $"n".as("nb")), Seq("pb"))
        .select($"pa".as("part"), $"pb".as("neighbor"), $"w",
          ($"w".cast("double") / sqrt(($"na" * $"nb").cast("double"))).as("sim"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy($"part").orderBy($"sim".desc, $"neighbor".asc)
      scored.withColumn("rank", row_number().over(rk))
        .filter($"rank" <= 5)
        .select($"part", $"rank".cast("long").as("rank"), $"neighbor", $"w", $"sim")
        .orderBy($"part", $"rank")
    },
    oracle = Some("""
      WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
      ), pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS w
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb HAVING COUNT(*) >= 2
      ), support AS (
        SELECT l_partkey AS p, COUNT(*) AS n FROM op GROUP BY l_partkey
      ), sym AS (
        SELECT pa, pb, w FROM pairs
        UNION ALL SELECT pb, pa, w FROM pairs
      ), scored AS (
        SELECT s.pa AS part, s.pb AS neighbor, s.w,
               CAST(s.w AS DOUBLE) / sqrt(CAST(na.n * nb.n AS DOUBLE)) AS sim
        FROM sym s JOIN support na ON na.p = s.pa
                   JOIN support nb ON nb.p = s.pb
      ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY part
                                     ORDER BY sim DESC, neighbor ASC) AS rank
        FROM scored)
      SELECT part, CAST(rank AS BIGINT) AS rank, neighbor,
             CAST(w AS BIGINT) AS w, sim
      FROM ranked WHERE rank <= 5
      ORDER BY part, rank"""))

  /** Q127 — global graph-health summary of the co-purchase graph: node/
    * edge counts, degree statistics, total triangles and the global
    * transitivity 3·Δ / Σ C(deg, 2) (Newman's clustering coefficient —
    * the one-number "is this graph clumpy or random?" diagnostic; for an
    * Erdős–Rényi graph it collapses to edge density, so the gap between
    * the two columns IS the community signal). q117 ranks nodes; this is
    * the corpus-level row a monitoring dashboard tracks across snapshots.
    *
    * Triangle total comes from the same oriented-intersection device as
    * q117 but needs only the per-edge COUNT (no corner attribution, no
    * explode): one sum over the edge scan. Wedges Σ C(deg, 2) and degree
    * stats are one fold of the node-bounded degree table. All counts
    * exact (decimal sums past long range); the two ratios are single
    * double divisions.
    */
  private val q127 = Q(
    fn = (s, d) => {
      import s.implicits._
      val (deg, o, outAdj) = orientedGraphCached(s, d)
      val tri = o
        .join(outAdj.select($"src", $"adj".as("adj_u")), Seq("src"))
        .join(outAdj.select($"src".as("dst"), $"adj".as("adj_v")), Seq("dst"))
        // count-only kernel: no intersection array ever allocates
        .agg(coalesce(sum(graft.functions.expressions
          .sorted_intersect_count($"adj_u", $"adj_v")), lit(0L))
          .as("n_triangles"))
      val degStats = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum($"deg".cast("decimal(19,0)")).as("deg_mass"),
        max($"deg").as("max_deg"),
        sum(($"deg".cast("decimal(19,0)") * ($"deg" - 1)).cast("decimal(38,0)"))
          .as("wedges2"))
      degStats.crossJoin(broadcast(tri))
        .select(
          $"n_nodes",
          expr("CAST(deg_mass AS BIGINT) div 2").as("n_edges"),
          ($"deg_mass".cast("double") / $"n_nodes".cast("double")).as("avg_deg"),
          $"max_deg",
          $"n_triangles",
          (($"n_triangles" * 6).cast("double") / $"wedges2".cast("double"))
            .as("transitivity"))
    },
    oracle = Some(graphOracleCtes + """,
      tric AS (
        SELECT COUNT(*) AS n_triangles FROM tri
      ), ds AS (
        SELECT COUNT(*) AS n_nodes, SUM(deg) AS deg_mass,
               MAX(deg) AS max_deg,
               SUM(CAST(deg AS HUGEINT) * (deg - 1)) AS wedges2
        FROM deg)
      SELECT CAST(ds.n_nodes AS BIGINT) AS n_nodes,
             CAST(ds.deg_mass // 2 AS BIGINT) AS n_edges,
             CAST(ds.deg_mass AS DOUBLE) / CAST(ds.n_nodes AS DOUBLE) AS avg_deg,
             CAST(ds.max_deg AS BIGINT) AS max_deg,
             CAST(t.n_triangles AS BIGINT) AS n_triangles,
             CAST(t.n_triangles * 6 AS DOUBLE) / CAST(ds.wedges2 AS DOUBLE)
               AS transitivity
      FROM ds, tric t"""))

  val all: Map[String, Q] = Map(
    "q96_textrank_keywords" -> q96,
    "q117_triangle_count" -> q117,
    "q126_item_similarity" -> q126,
    "q127_graph_summary" -> q127,
  )
}
