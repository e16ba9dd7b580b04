package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph analytics over document collections — pretraining pipelines
  * score web pages by link centrality (PageRank over the host/page graph is
  * a standard quality prior beside the text-level filters), and the dedup
  * stage already produces one graph (the near-dup pair list) this engine
  * walks with connected components (Dedup.connectedComponents).
  *
  * PageRank here is INTEGER-ARITHMETIC end to end (micro-rank units,
  * floor-division damping), so a fixed iteration count is bit-reproducible
  * on any engine — the DuckDB oracle unrolls the same five iterations and
  * must match exactly, the same determinism discipline as the k-means /
  * KMV / LM-score families. No float tolerance anywhere.
  */
object Graphs {

  /** Fixed-iteration integer PageRank over an edge list.
    *
    * Ranks start at 1e6 micro-units per node; each iteration every node
    * sends `rank DIV out_degree` along each out-edge and collects
    * `base + damping% · Σ contributions DIV 100` (base = (100−damping)% of
    * 1e6). Nodes without in-links keep the base; dangling mass is dropped
    * (the documented no-redistribution variant — rank ORDER, which is what
    * a quality prior consumes, is unaffected for connected graphs).
    *
    * Scale shape: the degree-annotated edge list is built once and
    * persisted; between rounds only the IN-LINK CONTRIBUTION table
    * (node, cs) is carried — a node with no in-links holds exactly the
    * base, so its rank is implicit and the per-round all-nodes join of
    * the naive formulation disappears. Each iteration is ONE left join
    * of edges to the contribution table on the src key plus ONE
    * dst-keyed aggregate — shuffle ∝ |E| per iteration, nothing
    * driver-side; the all-nodes join happens once, at the end. */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
      iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val e = edges.select(col(srcCol).as("e_src"), col(dstCol).as("e_dst"))
    val deg = e.groupBy(col("e_src")).agg(count(lit(1)).as("e_deg"))
    val ed = e.join(deg, "e_src").persist() // reused every iteration
    val nodes = e.select(col("e_src").as("node"))
      .unionAll(e.select(col("e_dst").as("node")))
      .distinct().persist()
    val base = 1000000L * (100 - dampingPct) / 100
    // carry only the in-link contribution table (node, cs) between rounds:
    // a node with no in-links holds exactly the base, so its rank never
    // needs a row — rank(x) = base + d%·coalesce(cs(x), 0) DIV 100. This
    // drops the per-round all-nodes join the naive formulation pays (one
    // join + one aggregate per round instead of two joins + one).
    val rankSql = s"${base}L + $dampingPct * coalesce(cs, 0L) DIV 100"
    var cs: DataFrame = ed
      .select(col("e_dst"), expr("1000000L DIV e_deg").as("c"))
      .groupBy(col("e_dst")).agg(sum(col("c")).as("cs"))
      .withColumnRenamed("e_dst", "node")
    for (i <- 2 to iters) {
      cs = ed.join(cs, col("e_src") === col("node"), "left")
        .select(col("e_dst"), expr(s"($rankSql) DIV e_deg").as("c"))
        .groupBy(col("e_dst")).agg(sum(col("c")).as("cs"))
        .withColumnRenamed("e_dst", "node")
      // lineage contract: the carried table's lineage is LINEAR (one join
      // + one aggregate per round), so short runs need no materialization
      // (an eager checkpoint at the shipped 5 rounds measured SLOWER) —
      // but planning time still grows with every round, so long runs
      // truncate every 8th round, keeping optimizer input bounded at any
      // `iters` (pinned by the 30-iteration GraphsSpec case).
      if (i % 8 == 0) cs = cs.localCheckpoint()
    }
    nodes.join(cs, Seq("node"), "left")
      .select(col("node"), expr(rankSql).as("rank_u"))
  }

  /** The corpus link graph as (src, dst) edges: each document carries two
    * md5-derived out-links (a deterministic stand-in for the page→page
    * edges a crawl provides), to documents `md5 slice % n_docs`. */
  private def linkEdges(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val links = docs.crossJoin(broadcast(n)).select(col("doc_id"),
      expr("CAST(conv(substr(md5(text), 20, 4), 16, 10) AS BIGINT) " +
        "% n_docs").as("dst1"),
      expr("CAST(conv(substr(md5(text), 24, 4), 16, 10) AS BIGINT) " +
        "% n_docs").as("dst2"))
    links.select(col("doc_id").as("src"), col("dst1").as("dst"))
      .unionAll(links.select(col("doc_id").as("src"), col("dst2").as("dst")))
  }

  /** DuckDB twin of [[linkEdges]]: the head of an oracle's WITH clause,
    * CTEs `lk` (links) and `e0` (edges), ending in a comma. */
  private val duckLinkEdges = """
      WITH lk AS (
        SELECT doc_id AS src,
               ('0x' || substr(md5(text), 20, 4))::BIGINT
                 % (SELECT count(*) FROM documents) AS dst1,
               ('0x' || substr(md5(text), 24, 4))::BIGINT
                 % (SELECT count(*) FROM documents) AS dst2
        FROM documents),
      e0 AS (
        SELECT src, dst1 AS dst FROM lk
        UNION ALL
        SELECT src, dst2 FROM lk),"""

  /** PageRank quality prior over the corpus link graph ([[linkEdges]]):
    * five integer iterations, top-20 pages by rank. The oracle unrolls the
    * identical five rounds in DuckDB — every micro-rank unit must match. */
  val pagerank = QueryDef(
    "q_graph_pagerank",
    (spark, dir) =>
      pageRankInt(linkEdges(spark, dir), "src", "dst", iters = 5)
        .orderBy(col("rank_u").desc, col("node"))
        .limit(20)
        .select(col("node"), col("rank_u")),
    Some(duckLinkEdges + """
      deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY src),
      e AS (SELECT e0.src, e0.dst, deg.d FROM e0 JOIN deg USING (src)),
      n AS (
        SELECT DISTINCT node FROM (
          SELECT src AS node FROM e0 UNION ALL SELECT dst FROM e0)),
      r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n),
      r1 AS (
        SELECT n.node, CAST(150000 + 85 * coalesce(c.cs, 0) // 100
               AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst AS node, CAST(sum(r.r // e.d) AS BIGINT) AS cs
          FROM e JOIN r0 r ON e.src = r.node GROUP BY e.dst) c
        USING (node)),
      r2 AS (
        SELECT n.node, CAST(150000 + 85 * coalesce(c.cs, 0) // 100
               AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst AS node, CAST(sum(r.r // e.d) AS BIGINT) AS cs
          FROM e JOIN r1 r ON e.src = r.node GROUP BY e.dst) c
        USING (node)),
      r3 AS (
        SELECT n.node, CAST(150000 + 85 * coalesce(c.cs, 0) // 100
               AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst AS node, CAST(sum(r.r // e.d) AS BIGINT) AS cs
          FROM e JOIN r2 r ON e.src = r.node GROUP BY e.dst) c
        USING (node)),
      r4 AS (
        SELECT n.node, CAST(150000 + 85 * coalesce(c.cs, 0) // 100
               AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst AS node, CAST(sum(r.r // e.d) AS BIGINT) AS cs
          FROM e JOIN r3 r ON e.src = r.node GROUP BY e.dst) c
        USING (node)),
      r5 AS (
        SELECT n.node, CAST(150000 + 85 * coalesce(c.cs, 0) // 100
               AS BIGINT) AS r
        FROM n LEFT JOIN (
          SELECT e.dst AS node, CAST(sum(r.r // e.d) AS BIGINT) AS cs
          FROM e JOIN r4 r ON e.src = r.node GROUP BY e.dst) c
        USING (node))
      SELECT node, r AS rank_u FROM r5
      ORDER BY rank_u DESC, node LIMIT 20"""))

  /** Bounded-round k-core peeling: repeatedly drop nodes whose CURRENT
    * degree is < k and restrict the edge set to survivors — after enough
    * rounds the survivors are the k-core, the standard link-spam /
    * community-density prior (a page in a dense core earns trust a
    * pendant chain never does). Fixed `rounds` keeps it deterministic
    * and replayable: both engines peel the identical rounds, so results
    * are exact even short of the fixed point.
    *
    * Scale shape per round: one degree aggregate + two semi-joins, all
    * keyed on node ids — shuffle ∝ |E| per round, monotonically
    * shrinking, nothing driver-side. Each round's survivor edge set is
    * EAGERLY materialized (localCheckpoint): round r references round
    * r−1 five times (the main branch plus both degree arms of `keep`,
    * joined on both endpoints), so an unmaterialized lineage would grow
    * 5^rounds — the iterative-graph discipline GraphX applies per
    * superstep. Returns surviving (node, deg). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    var ud = edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    def degrees(e: DataFrame): DataFrame =
      e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    for (_ <- 1 to rounds) {
      val keep = degrees(ud).filter(col("deg") >= k).select(col("node"))
      ud = ud
        .join(keep.withColumnRenamed("node", "u"), Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("node", "v"), Seq("v"), "left_semi")
        .localCheckpoint()
    }
    degrees(ud)
  }

  /** 3-core of the document link graph after four peeling rounds: the
    * dense-core membership + residual degree, top-25. The oracle unrolls
    * the identical four rounds in DuckDB. */
  val kcore = QueryDef(
    "q_graph_kcore",
    (spark, dir) =>
      kCore(linkEdges(spark, dir), "src", "dst", k = 3, rounds = 4)
        .orderBy(col("deg").desc, col("node"))
        .limit(25),
    Some(duckLinkEdges + """
      ud0 AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e0 WHERE src <> dst),
      d1 AS (SELECT node, count(*) AS deg FROM (
               SELECT u AS node FROM ud0 UNION ALL SELECT v FROM ud0)
             GROUP BY node),
      k1 AS (SELECT node FROM d1 WHERE deg >= 3),
      ud1 AS (SELECT ud0.u, ud0.v FROM ud0
              JOIN k1 a ON ud0.u = a.node JOIN k1 b ON ud0.v = b.node),
      d2 AS (SELECT node, count(*) AS deg FROM (
               SELECT u AS node FROM ud1 UNION ALL SELECT v FROM ud1)
             GROUP BY node),
      k2 AS (SELECT node FROM d2 WHERE deg >= 3),
      ud2 AS (SELECT ud1.u, ud1.v FROM ud1
              JOIN k2 a ON ud1.u = a.node JOIN k2 b ON ud1.v = b.node),
      d3 AS (SELECT node, count(*) AS deg FROM (
               SELECT u AS node FROM ud2 UNION ALL SELECT v FROM ud2)
             GROUP BY node),
      k3 AS (SELECT node FROM d3 WHERE deg >= 3),
      ud3 AS (SELECT ud2.u, ud2.v FROM ud2
              JOIN k3 a ON ud2.u = a.node JOIN k3 b ON ud2.v = b.node),
      d4 AS (SELECT node, count(*) AS deg FROM (
               SELECT u AS node FROM ud3 UNION ALL SELECT v FROM ud3)
             GROUP BY node),
      k4 AS (SELECT node FROM d4 WHERE deg >= 3),
      ud4 AS (SELECT ud3.u, ud3.v FROM ud3
              JOIN k4 a ON ud3.u = a.node JOIN k4 b ON ud3.v = b.node)
      SELECT node, count(*) AS deg FROM (
        SELECT u AS node FROM ud4 UNION ALL SELECT v FROM ud4)
      GROUP BY node
      ORDER BY deg DESC, node LIMIT 25"""))

  /** Per-node triangle counts via DEGREE-ORIENTED wedge joins — the
    * standard distributed triangle algorithm (Schank & Wagner 2005;
    * Suri & Vassilvitskii "Counting Triangles and the Curse of the Last
    * Reducer", WWW 2011): orient every undirected edge from its
    * lower-(degree, id) endpoint to the higher one, so each node's
    * OUT-adjacency is O(√m) regardless of hubs, then
    *
    *   wedges  = oriented ⋈ oriented on the shared source `a`
    *             (kept only when head keys satisfy k(x) < k(y)), and
    *   triangle = wedge (a,x,y) whose closing edge x→y is itself an
    *             oriented edge (always oriented x→y because k(x) < k(y)).
    *
    * Each triangle {a,x,y} is found exactly ONCE (from its lowest-key
    * corner), then credited to all three corners. Shuffle cost: one
    * hash shuffle on `a` for the wedge join (Σ outdeg² ≤ O(m^1.5) pairs,
    * the orientation bound) + one on (x,y) for the closing-edge join —
    * no global sort, no driver state, hub-proof by construction. */
  def triangleCounts(edges: DataFrame, srcCol: String,
      dstCol: String): DataFrame = {
    // total-order key (degree, id) packed into one long REQUIRES node ids
    // in [0, 1e9) — ids ≥ 1e9 (e.g. 64-bit hashes) would silently corrupt
    // the orientation and the counts, so out-of-domain ids fail loudly
    // here (zip such ids to dense longs first). Cost: one codegen branch
    // on the deduped edge pass.
    def inDomain(c: org.apache.spark.sql.Column) =
      when(c < 0L || c >= lit(1000000000L),
        raise_error(concat(
          lit("triangleCounts: node id outside [0, 1e9): "),
          c.cast("string")))).otherwise(c)
    // persisted: `ud` feeds the degree census AND the keyed join; the
    // keyed orientation `oriented` feeds BOTH wedge sides AND the
    // closing-edge probe — without the persist the whole
    // dedup-orient-key pipeline recomputes three times (round-7 verdict:
    // a 1,214-line plan signature). Caching contract: released by the
    // caller via spark.catalog.clearCache() / unpersist after the
    // consuming action, same as [[pageRankInt]].
    val ud = edges
      .select(inDomain(least(col(srcCol), col(dstCol))).as("u"),
        inDomain(greatest(col(srcCol), col(dstCol))).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .persist()
    val deg = ud.select(col("u").as("node"))
      .unionAll(ud.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    val keyed = ud
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
      .select(col("u"), col("v"),
        (col("du") * lit(1000000000L) + col("u")).as("ku"),
        (col("dv") * lit(1000000000L) + col("v")).as("kv"))
    val oriented = keyed.select(
      when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("a"),
      when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("b"),
      greatest(col("ku"), col("kv")).as("kb"))
      .persist()
    val wedges = oriented.select(col("a"), col("b").as("x"), col("kb").as("kx"))
      .join(oriented.select(col("a"), col("b").as("y"), col("kb").as("ky")),
        "a")
      .filter(col("kx") < col("ky"))
      .select(col("a"), col("x"), col("y"))
    val tri = wedges.join(
      oriented.select(col("a").as("x"), col("b").as("y")), Seq("x", "y"))
    tri.select(col("a").as("node"))
      .unionAll(tri.select(col("x").as("node")))
      .unionAll(tri.select(col("y").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
  }

  /** Triangle census over the same md5-derived document link graph as
    * [[pagerank]]: per-node triangle participation (the local clustering
    * signal link-spam/community filters consume), top-15 nodes. The
    * DuckDB oracle replays the identical orientation and wedge joins —
    * exact counts, no tolerance. */
  val triangles = QueryDef(
    "q_graph_triangles",
    (spark, dir) =>
      triangleCounts(linkEdges(spark, dir), "src", "dst")
        .orderBy(col("n_tri").desc, col("node"))
        .limit(15),
    Some(duckLinkEdges + """
      ud AS (
        SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e0 WHERE src <> dst),
      deg AS (
        SELECT node, count(*) AS deg FROM (
          SELECT u AS node FROM ud UNION ALL SELECT v FROM ud)
        GROUP BY node),
      o AS (
        SELECT CASE WHEN ku < kv THEN u ELSE v END AS a,
               CASE WHEN ku < kv THEN v ELSE u END AS b,
               greatest(ku, kv) AS kb
        FROM (SELECT ud.u, ud.v,
                     d1.deg * 1000000000 + ud.u AS ku,
                     d2.deg * 1000000000 + ud.v AS kv
              FROM ud
              JOIN deg d1 ON ud.u = d1.node
              JOIN deg d2 ON ud.v = d2.node)),
      tri AS (
        SELECT w.a, w.x, w.y
        FROM (SELECT o1.a, o1.b AS x, o1.kb AS kx, o2.b AS y, o2.kb AS ky
              FROM o o1 JOIN o o2 ON o1.a = o2.a
              WHERE o1.kb < o2.kb) w
        JOIN o oc ON oc.a = w.x AND oc.b = w.y),
      pn AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT x FROM tri
        UNION ALL SELECT y FROM tri)
      SELECT node, count(*) AS n_tri FROM pn GROUP BY node
      ORDER BY n_tri DESC, node LIMIT 15"""))

  /** Frozen-label propagation from a seed set: each round, every still-
    * unlabeled node adjacent to a labeled one adopts the MINIMUM neighbor
    * label, and labels never change once assigned (the "frozen" LPA
    * variant — monotone, so a fixed round count is deterministic with no
    * oscillation, and min-tie-breaking needs no RNG). This is the
    * semi-supervised classifier a curation pipeline runs over the crawl
    * link graph: a few thousand hand-labeled seed domains (spam /
    * quality / topic) spread along hyperlinks to score the whole corpus.
    *
    * Scale shape per round: ONE equi-join of the (static, persisted)
    * undirected edge list against the current label table on the src key
    * + one min-aggregate on dst + one anti-join to keep frozen labels
    * frozen — shuffle ∝ |E| per round, nothing driver-side. The label
    * table is localCheckpoint'd between rounds (it is referenced twice
    * per round: contribution join + anti-join), the same
    * lineage-truncation discipline as [[kCore]]. */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, nodeCol: String, labelCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col(srcCol).as("lp_src"), col(dstCol).as("lp_dst"))
    val und = e.unionAll(
      e.select(col("lp_dst").as("lp_src"), col("lp_src").as("lp_dst")))
      .persist() // static; reused every round
    var l = seeds.select(col(nodeCol).as("node"), col(labelCol).as("label"))
      .localCheckpoint()
    for (_ <- 1 to rounds) {
      val newly = und.join(l, col("lp_src") === col("node"))
        .groupBy(col("lp_dst")).agg(min(col("label")).as("label"))
        .withColumnRenamed("lp_dst", "node")
        .join(l.select(col("node")), Seq("node"), "left_anti")
      l = l.unionAll(newly.select(col("node"), col("label")))
        .localCheckpoint()
    }
    l
  }

  /** Label spreading over the document link graph: 5% of docs are seeds
    * (doc_id % 20 = 0) labeled doc_id % 3; three frozen min-label rounds
    * over the undirected md5-link graph; output is the label census with
    * -1 for still-unreached nodes. The oracle unrolls the identical three
    * rounds in DuckDB — every label must match. */
  val labelProp = QueryDef(
    "q_graph_label_prop",
    (spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val seeds = docs.filter(col("doc_id") % 20 === 0)
        .select(col("doc_id").as("node"), (col("doc_id") % 3).as("label"))
      val labeled = labelPropagate(linkEdges(spark, dir), "src", "dst",
        seeds, "node", "label", rounds = 3)
      docs.select(col("doc_id").as("node"))
        .join(labeled, Seq("node"), "left")
        .groupBy(coalesce(col("label"), lit(-1L)).as("label"))
        .agg(count(lit(1)).as("n_nodes"))
    },
    Some(duckLinkEdges + """
      e AS (
        SELECT src, dst FROM e0
        UNION ALL
        SELECT dst AS src, src AS dst FROM e0),
      l0 AS (
        SELECT doc_id AS node, CAST(doc_id % 3 AS BIGINT) AS label
        FROM documents WHERE doc_id % 20 = 0),
      l1 AS (
        SELECT node, label FROM l0
        UNION ALL
        SELECT e.dst AS node, min(l.label) AS label
        FROM e JOIN l0 l ON e.src = l.node
        WHERE e.dst NOT IN (SELECT node FROM l0)
        GROUP BY e.dst),
      l2 AS (
        SELECT node, label FROM l1
        UNION ALL
        SELECT e.dst AS node, min(l.label) AS label
        FROM e JOIN l1 l ON e.src = l.node
        WHERE e.dst NOT IN (SELECT node FROM l1)
        GROUP BY e.dst),
      l3 AS (
        SELECT node, label FROM l2
        UNION ALL
        SELECT e.dst AS node, min(l.label) AS label
        FROM e JOIN l2 l ON e.src = l.node
        WHERE e.dst NOT IN (SELECT node FROM l2)
        GROUP BY e.dst)
      SELECT coalesce(l.label, -1) AS label, count(*) AS n_nodes
      FROM documents d LEFT JOIN l3 l ON d.doc_id = l.node
      GROUP BY coalesce(l.label, -1)"""))

  val all: Seq[QueryDef] = Seq(pagerank, triangles, kcore, labelProp)
}
