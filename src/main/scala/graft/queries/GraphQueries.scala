package graft.queries

import graft.ext.HtmlText
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Link-graph operators over the crawl front door: outlink extraction from
  * raw HTML and host-level PageRank — the domain-centrality signal
  * crawl-curation ladders use as a quality prior (CCNet/RefinedWeb keep
  * "reputable domain" features; the classic formulation is Page et al.
  * 1999). Both run on the deterministic linked-page fixture
  * ([[HtmlText.syntheticLinkedHtml]] — the html1/mm2 discipline): the
  * Spark side walks the REAL HTML through the REAL scanner while the
  * DuckDB oracle recomputes edges from the generating parameters — two
  * independent derivations of the same graph.
  *
  * Scale shapes:
  *  - lnk1 is map-only (the outlink scanner is the same single-pass
  *    kernel family as html1) — at crawl scale this is the frontier feed,
  *    shuffle-free over WARC shards.
  *  - pr1's per-iteration work is one edges⨝ranks join + one dst-keyed
  *    sum: ranks and out-degrees are node-sized (hosts, ~10⁸ at full
  *    crawl scale vs ~10¹¹ pages), broadcast here; at full host-graph
  *    scale the same plan co-partitions edges and ranks on src so each
  *    iteration is one exchange of node-sized partial sums, never
  *    edge-sized data. Iteration count is fixed (3) — plan depth is
  *    static, the localCheckpoint between iterations caps lineage the
  *    way [[graft.ext.Bpe]]'s trainer does.
  */
object GraphQueries {

  import QueryDef._

  private val Damping = 0.85
  private val Iterations = 3

  /** Per-page outlinks in document order, through the real scanner.
    * Oracle: the fixture's full link list (nav, the paragraph-0 citation,
    * the related-sites absolute links, the share bar) reconstructed from
    * the generating parameters. */
  private val lnk1 = withOracle("lnk1_outlinks",
    s"""SELECT doc_id, array_to_string([
       |  '/', '/about', '/contact', '/ref',
       |  'https://host' || ((doc_id*7+1) % ${HtmlText.LinkHosts}) || '.example/page' || doc_id,
       |  'https://host' || ((doc_id*13+2) % ${HtmlText.LinkHosts}) || '.example/page' || doc_id,
       |  'https://host' || ((doc_id*29+3) % ${HtmlText.LinkHosts}) || '.example/page' || doc_id,
       |  '/tw', '/fb'], ',') AS links
       |FROM documents""".stripMargin) { (s, dir) =>
    // gate projection joins the (document-order) list to one string — the
    // driver's oracle harness can't sort array cells; the kernel keeps
    // returning the real array
    HtmlText.outlinkDocs(HtmlText.asLinkedPages(s, dir)).toDF()
      .select(col("doc_id"), array_join(col("links"), ",").as("links"))
  }

  /** Anchor-text aggregation per target host — the classic IR signal
    * (what the WEB says a page is about; Brin & Page 1998 §2.2 use it as
    * a first-class index field): every absolute anchor from the linked
    * fixture grouped by target host with its incoming-link count and the
    * first [[AnchorPage]] distinct anchor texts (ascending — a bounded
    * bottom-k page, never the full text set, so hub hosts with millions
    * of in-links still exchange ≤k strings per task). Self-links count:
    * anchor text describes the TARGET, wherever it is linked from. */
  private val AnchorPage = 5
  private val lnk2 = withOracle("lnk2_anchor_text",
    s"""WITH raw AS (
       |  SELECT (doc_id*7+1) % ${HtmlText.LinkHosts} AS dst, doc_id FROM documents
       |  UNION ALL SELECT (doc_id*13+2) % ${HtmlText.LinkHosts}, doc_id FROM documents
       |  UNION ALL SELECT (doc_id*29+3) % ${HtmlText.LinkHosts}, doc_id FROM documents)
       |SELECT dst AS host, CAST(count(*) AS BIGINT) AS n_links,
       |       'site ' || CAST(dst AS VARCHAR) AS anchors
       |FROM raw GROUP BY dst""".stripMargin) { (s, dir) =>
    val abs = HtmlText.anchorDocs(HtmlText.asLinkedPages(s, dir)).toDF()
      .where(col("href").startsWith("https://host"))
      .select(regexp_extract(col("href"), "^https://host(\\d+)\\.example/", 1)
        .cast("long").as("host"), col("text"))
    val counts = abs.groupBy(col("host")).agg(count(lit(1)).as("n_links"))
    val texts = abs.distinct().groupBy(col("host"))
      .agg(graft.ext.extfunctions.bottom_k(col("text"), AnchorPage).as("anchors"))
    counts.join(broadcast(texts), "host")
      // bottom-k page joined to one string for the gate (the harness
      // can't sort array cells); the fixture has one distinct anchor per
      // host so the oracle writes it directly
      .select(col("host"), col("n_links"), array_join(col("anchors"), ",").as("anchors"))
  }

  /** Host-graph edges from the linked fixture via the real scanner:
    * src = the page's own host, dst parsed from each absolute outlink;
    * self-loops dropped, distinct. */
  private def hostEdges(s: SparkSession, dir: String): DataFrame =
    HtmlText.outlinkDocs(HtmlText.asLinkedPages(s, dir)).toDF()
      .select(pmod(col("doc_id"), lit(HtmlText.LinkHosts.toLong)).as("src"),
        explode(col("links")).as("href"))
      .where(col("href").startsWith("https://host"))
      .select(col("src"),
        regexp_extract(col("href"), "^https://host(\\d+)\\.example/", 1)
          .cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()

  /** The oracle's independent PageRank: unrolled iteration CTEs with the
    * SAME dangling-mass term the Spark kernel applies (d_i = the mass on
    * nodes that are never a src, redistributed uniformly). `srcFilter`
    * carves sink nodes out of the fixture for pr2 (empty = the full
    * sink-free pr1 graph, where every d_i is exactly 0). */
  private def pagerankSql(srcFilter: String): String = {
    val nH = HtmlText.LinkHosts
    val iters = (1 to Iterations).map { i =>
      s"""d$i AS (SELECT coalesce(sum(pr), 0) AS dm FROM r${i - 1} JOIN sinks USING (h)),
         |c$i AS (SELECT e.dst AS h, sum(r${i - 1}.pr/deg.od) AS s
         |        FROM e JOIN r${i - 1} ON r${i - 1}.h=e.src JOIN deg ON deg.src=e.src GROUP BY e.dst),
         |r$i AS (SELECT nodes.h, 0.15/n + 0.85*(coalesce(c$i.s,0) + dm/n) AS pr
         |        FROM nodes CROSS JOIN nn CROSS JOIN d$i LEFT JOIN c$i ON c$i.h=nodes.h)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT doc_id % $nH AS src, (doc_id*7+1) % $nH AS dst FROM documents
       |  UNION ALL SELECT doc_id % $nH, (doc_id*13+2) % $nH FROM documents
       |  UNION ALL SELECT doc_id % $nH, (doc_id*29+3) % $nH FROM documents),
       |e AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst$srcFilter),
       |nodes AS (SELECT DISTINCT src AS h FROM e UNION SELECT DISTINCT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |deg AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY src),
       |sinks AS (SELECT h FROM nodes WHERE h NOT IN (SELECT src FROM e)),
       |r0 AS (SELECT h, 1.0/n AS pr FROM nodes, nn),
       |$iters
       |SELECT h AS host, round(r$Iterations.pr, 6) AS pagerank FROM r$Iterations""".stripMargin
  }

  /** PageRank over an arbitrary (src, dst) edge frame: uniform init,
    * fixed power iterations, WITH the standard dangling-mass
    * redistribution (Page et al. 1999 §2.6): the rank mass sitting on
    * sink nodes (no outlinks — every real crawl graph has them) is
    * summed each iteration (a 1-row aggregate broadcast back, never a
    * driver value) and redistributed uniformly, so total mass is
    * conserved at exactly 1. On a sink-free graph the term is
    * identically zero. `broadcastRanks = true` pins the node-sized
    * sides as broadcast for known-small graphs (the gate fixture); at
    * real host-graph scale pass false — edges and ranks then
    * co-partition on the join key and each iteration exchanges
    * node-sized partial sums only (AQE still broadcasts when the graph
    * turns out small). localCheckpoint caps lineage per iteration (the
    * Bpe trainer discipline). Timed at 50 M synthetic edges in SCALE.md
    * §7. */
  def pagerank(edges: DataFrame, iterations: Int, damping: Double,
      broadcastRanks: Boolean): DataFrame = {
    val nodes = edges.select(col("src").as("h"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint(false)
    val nN = nodes.count().toDouble // one bounded scalar to the driver
    // edge-less graph: empty result, not a plan-time 1/0 under ANSI
    // constant folding (a crawl with no absolute links hits this)
    if (nN == 0) return nodes.select(col("h"), lit(0.0).as("pr"))
    val deg = edges.groupBy(col("src"))
      .agg(count(lit(1)).cast("double").as("od")).localCheckpoint(false)
    // sink detection is FREE: a sink exists iff fewer distinct srcs than
    // nodes (both frames are already checkpointed; two bounded counts,
    // no extra join) — a sink-free graph pays ZERO dangling overhead
    val hasSinks = deg.count() < nN
    // sink nodes: in the node set but never a src — node-sized, built
    // only when they exist
    lazy val dangling = nodes
      .join(deg.select(col("src").as("h")), Seq("h"), "left_anti")
      .localCheckpoint(false)
    def hint(df: DataFrame) = if (broadcastRanks) broadcast(df) else df
    var ranks = nodes.select(col("h"), (lit(1.0) / lit(nN)).as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = edges
        .join(hint(ranks), col("src") === col("h")).drop("h")
        .join(hint(deg.withColumnRenamed("src", "dsrc")), col("src") === col("dsrc"))
        .groupBy(col("dst")).agg(sum(col("pr") / col("od")).as("s"))
      val withDm =
        if (!hasSinks)
          nodes.join(contrib, nodes("h") === contrib("dst"), "left")
            .withColumn("dm", lit(0.0))
        else {
          // the mass parked on sinks this iteration — one scalar, broadcast back
          val dm = ranks.join(hint(dangling), Seq("h"), "left_semi")
            .agg(coalesce(sum(col("pr")), lit(0.0)).as("dm"))
          nodes.join(contrib, nodes("h") === contrib("dst"), "left")
            .crossJoin(broadcast(dm))
        }
      ranks = withDm
        .select(col("h"),
          (lit((1 - damping) / nN) + lit(damping) *
            (coalesce(col("s"), lit(0.0)) + col("dm") / lit(nN))).as("pr"))
        .localCheckpoint(false)
    }
    ranks
  }

  /** HITS hubs/authorities (Kleinberg 1998) over an edge frame: uniform
    * hub init, fixed iterations of auth ∝ Σ hub(in-neighbors) then
    * hub ∝ Σ auth(out-neighbors), L1-normalized each half-step (the
    * scalar norm is a 1-row aggregate broadcast back — no driver value).
    * Same scale shape as [[pagerank]]: each half-step is one edges⨝score
    * join + one node-sized keyed sum; broadcastRanks pins the node-sized
    * sides for known-small graphs. */
  def hits(edges: DataFrame, iterations: Int,
      broadcastRanks: Boolean): DataFrame = {
    val nodes = edges.select(col("src").as("h"))
      .union(edges.select(col("dst"))).distinct().localCheckpoint(false)
    val nN = nodes.count().toDouble
    // an edge-less graph (a crawl with no absolute links) has no scores:
    // return the empty frame instead of letting 1/0 constant-fold under
    // ANSI mode into a plan-time DIVIDE_BY_ZERO
    if (nN == 0)
      return nodes.select(col("h"), lit(0.0).as("authority"), lit(0.0).as("hub"))
    def hint(df: DataFrame) = if (broadcastRanks) broadcast(df) else df
    // one half-step: scores keyed by `from` flow along (from → to) edges.
    // Unlike pagerank there is NO teleport term, so a node with no
    // in-flow is EXACTLY zero — iterations carry only the flowed rows
    // (absent ≡ 0 in the next join, and zeros add nothing to the norm);
    // the node set is completed once at the end, not per half-step.
    def halfStep(scores: DataFrame, from: String, to: String): DataFrame = {
      val flowed = edges
        .join(hint(scores), col(from) === col("h")).drop("h")
        .groupBy(col(to).as("h")).agg(sum(col("v")).as("s"))
      val z = flowed.agg(sum(col("s")).as("z"))
      flowed.join(broadcast(z)).select(col("h"), (col("s") / col("z")).as("v"))
        .localCheckpoint(false)
    }
    var hub = nodes.select(col("h"), (lit(1.0) / lit(nN)).as("v"))
    var auth = hub
    for (_ <- 1 to iterations) {
      auth = halfStep(hub, "src", "dst")
      hub = halfStep(auth, "dst", "src")
    }
    nodes
      .join(auth.withColumnRenamed("v", "authority"), Seq("h"), "left")
      .join(hub.withColumnRenamed("v", "hub"), Seq("h"), "left")
      .select(col("h"), coalesce(col("authority"), lit(0.0)).as("authority"),
        coalesce(col("hub"), lit(0.0)).as("hub"))
  }

  private def hitsSql: String = {
    val nH = HtmlText.LinkHosts
    val iters = (1 to Iterations).map { i =>
      s"""a${i}r AS (SELECT e.dst AS h, sum(h${i - 1}.hub) AS a FROM e JOIN h${i - 1} ON h${i - 1}.h=e.src GROUP BY e.dst),
         |a${i}s AS (SELECT sum(a) AS z FROM a${i}r),
         |a$i AS (SELECT nodes.h, coalesce(a${i}r.a,0)/z AS auth FROM nodes CROSS JOIN a${i}s LEFT JOIN a${i}r ON a${i}r.h=nodes.h),
         |h${i}r AS (SELECT e.src AS h, sum(a$i.auth) AS v FROM e JOIN a$i ON a$i.h=e.dst GROUP BY e.src),
         |h${i}s AS (SELECT sum(v) AS z FROM h${i}r),
         |h$i AS (SELECT nodes.h, coalesce(h${i}r.v,0)/z AS hub FROM nodes CROSS JOIN h${i}s LEFT JOIN h${i}r ON h${i}r.h=nodes.h)""".stripMargin
    }.mkString(",\n")
    s"""WITH raw AS (
       |  SELECT doc_id % $nH AS src, (doc_id*7+1) % $nH AS dst FROM documents
       |  UNION ALL SELECT doc_id % $nH, (doc_id*13+2) % $nH FROM documents
       |  UNION ALL SELECT doc_id % $nH, (doc_id*29+3) % $nH FROM documents),
       |e AS (SELECT DISTINCT src, dst FROM raw WHERE src != dst),
       |nodes AS (SELECT DISTINCT src AS h FROM e UNION SELECT DISTINCT dst FROM e),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
       |h0 AS (SELECT h, 1.0/n AS hub FROM nodes, nn),
       |$iters
       |SELECT a$Iterations.h AS host, round(a$Iterations.auth,6) AS authority,
       |       round(h$Iterations.hub,6) AS hub
       |FROM a$Iterations JOIN h$Iterations ON a$Iterations.h=h$Iterations.h""".stripMargin
  }

  /** HITS over the host graph — [[hits]] with the gate fixture's edges. */
  private val hits1 = withOracle("hits1_host_hits", hitsSql) { (s, dir) =>
    hits(hostEdges(s, dir).localCheckpoint(false), Iterations, broadcastRanks = true)
      .select(col("h").as("host"), round(col("authority"), 6).as("authority"),
        round(col("hub"), 6).as("hub"))
  }

  /** PageRank over the host graph: damping 0.85, uniform init, fixed
    * $Iterations power iterations (every host has outlinks by
    * construction, so the kernel's dangling-mass term is exactly 0 here
    * — pr2 exercises it). */
  private val pr1 = withOracle("pr1_host_pagerank", pagerankSql("")) { (s, dir) =>
    pagerank(hostEdges(s, dir).localCheckpoint(false), Iterations, Damping,
        broadcastRanks = true)
      .select(col("h").as("host"), round(col("pr"), 6).as("pagerank"))
  }

  /** PageRank on a SINK-BEARING graph — the shape every real crawl graph
    * has: hosts ≡ 0 (mod 5) lose all their out-edges (they stay in the
    * node set as link targets), so each iteration parks rank mass on
    * them and the kernel's dangling-mass broadcast must hand it back
    * uniformly. Without the term the kernel leaks ~dm·damping of total
    * mass per iteration; the oracle recomputes the same redistribution
    * in unrolled CTEs. Mass conservation (Σpr = 1 exactly, every
    * iteration) is pinned in ExtSpec. */
  private val pr2 = withOracle("pr2_dangling_pagerank",
    pagerankSql(" AND src % 5 != 0")) { (s, dir) =>
    pagerank(hostEdges(s, dir).where(col("src") % 5 =!= 0).localCheckpoint(false),
        Iterations, Damping, broadcastRanks = true)
      .select(col("h").as("host"), round(col("pr"), 6).as("pagerank"))
  }

  val all: Seq[QueryDef] = Seq(lnk1, lnk2, pr1, pr2, hits1)
}
