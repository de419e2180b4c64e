package graft.queries


import graft.ext.extfunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * s1 is the exact brute-force baseline: broadcast the (small) query set,
  * scan the corpus once, per-query top-k via the bounded [[perQueryTopK]]
  * aggregate — linear in corpus size, embarrassingly parallel, the right
  * shape even at 100 TB when the query set is bounded.
  *
  * s2 is the sub-linear scale path: random-hyperplane LSH — bucket the
  * corpus once (one custom-expression pass), then only score candidates
  * sharing the query's bucket.
  */
object SimilarityQueries {

  import QueryDef._

  val TopK = 5
  val NQueries = 10

  /** Exact per-query top-k of scored pairs via [[graft.ext.BottomKAgg]]:
    * bottom-k on ascending (−score, vec_id) ≡ (score DESC, vec_id ASC) —
    * the ordering every query here states. Partial aggregation bounds each
    * task's contribution to k rows per query BEFORE the exchange, so the
    * shuffle carries tasks×queries×k rows — unlike the `row_number` window
    * formulation, whose exchange funnels the ENTIRE scored pair set into
    * |queries| partitions (one task per query: maximal skew at 100 TB).
    * Output: (query_id, vec_id, score) at full precision; −(−score)
    * round-trips doubles exactly.
    *
    * UNDEFINED scores are excluded before ranking: a zero-norm vector
    * makes cosine 0/0 = NaN, and a null embedding a null score — negation
    * would rank NaN last (where a DESC window ranks it first) and struct
    * ordering would rank null best (where a DESC window ranks it last),
    * so rather than inherit either accident, the contract here is
    * explicit: a pair whose similarity is undefined is not a neighbor.
    * Deterministic, and the only divergence from the window/oracle
    * formulation is on corpora containing zero-norm or null vectors.
    *
    * The guard lives INSIDE the aggregate child (`when` → null → skipped
    * by bottom_k's SQL null convention), NOT as a `.where` above the
    * scored frame: a Filter node here is catastrophic — predicate
    * pushdown clones the score expression into the join condition
    * (3× per-pair evaluation) and null-intolerance constraint inference
    * derives isnotnull(norm) filters that sink to the parquet scans with
    * the WHOLE norm expression tree substituted in. For s6's interpreted
    * higher-order-function chain that meant re-evaluating the full
    * quantize→dequantize→norm pipeline per row inside scan filters — an
    * 8× query-level regression. Three references to `score` below also
    * stop CollapseProject folding the scoring projection into the
    * aggregate, so the score is computed exactly once per pair. */
  private def perQueryTopK(pairs: DataFrame, score: Column, k: Int): DataFrame =
    pairs
      .groupBy(col("query_id"))
      .agg(bottom_k(
        when(score.isNotNull && !isnan(score),
          struct((-score).as("ns"), col("vec_id").as("vec_id"))),
        k).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.vec_id").as("vec_id"), (-col("t.ns")).as("score"))

  private val cosExact =
    """list_dot_product(q.v, e.v) /
      |  (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(e.v, e.v)))""".stripMargin

  /** S1 brute-force cosine top-k (oracle-checked, identical formula &
    * accumulation order on both engines). Norms are precomputed per row
    * before the pair join — sqrt(dot(x,x)) per vector once instead of per
    * pair; bitwise-identical to computing them pairside since each sum's
    * accumulation order is unchanged. */
  private val s1Brute = withOracle("s1_ann_brute",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id, v FROM e WHERE vec_id < $NQueries)
       |SELECT query_id, neighbor_id, cos FROM (
       |  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |         round($cosExact, 4) AS cos,
       |         row_number() OVER (PARTITION BY q.vec_id
       |                            ORDER BY $cosExact DESC, e.vec_id) AS rn
       |  FROM q JOIN e ON q.vec_id <> e.vec_id) t
       |WHERE rn <= $TopK""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(dot_f(col("embedding"), col("embedding"))).as("nrm"))
    val queries = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("nrm").as("qnrm"))
    val cos = dot_f(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))
    val pairs = e.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_full", cos)
    perQueryTopK(pairs, col("cos_full"), TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** Multi-table random-hyperplane LSH buckets: `tables` independent hash
    * tables of `bits` hyperplanes each. Output: one (table, bucket) row per
    * input vector per table. Hyperplane components are ±1 derived from
    * splitmix64 — deterministic and reproducible on any engine. Multi-table
    * union-of-candidates is the standard recall fix when the corpus is
    * near-isotropic (this synthetic data is LSH's worst case). */
  private[graft] def bucketed(s: SparkSession, dir: String, tables: Int, bits: Int): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    e.select(col("vec_id"), col("embedding"),
      posexplode(lsh_buckets(col("embedding"), tables, bits)).as(Seq("table", "bucket")))
  }

  /** S2 LSH-bucketed ANN: candidates = union over hash tables of the
    * query's bucket; only candidates are scored (the sub-linear scan).
    * Recall vs s1 asserted in ExtSpec; rows-only here (bucket membership is
    * not ANSI-SQL-expressible). */
  /** s2's candidate stage, exposed so the invariants row re-ranks the
    * SAME candidate set: (query_id, qv, vec_id, embedding) pairs sharing
    * ≥1 (table, bucket) with the query. */
  private[graft] def s2Candidates(s: SparkSession, dir: String): DataFrame = {
    val b = bucketed(s, dir, tables = 8, bits = 4)
    val queries = b.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("table"), col("bucket"))
    b.join(broadcast(queries), Seq("table", "bucket"))
      .where(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("qv"), col("vec_id"), col("embedding"))
      .dropDuplicates("query_id", "vec_id")
  }

  private val s2Lsh = rowsOnly("s2_ann_lsh") { (s, dir) =>
    // cosine_sim is fine here: candidates are already pruned to ~bucket
    // size, so the per-pair norm cost is off the hot path
    perQueryTopK(
      s2Candidates(s, dir)
        .withColumn("cos_full", cosine_sim(col("qv"), col("embedding"))),
      col("cos_full"), TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S2's ORACLE-CHECKED companion (pk4/rh4 invariants pattern): the LSH
    * bucket membership is not ANSI-expressible, but the operator's
    * CONTRACT is —
    *   - results ⊆ the candidate set (nothing scored outside a shared
    *     bucket);
    *   - the ranking is EXACTLY the cosine top-k of the candidate set:
    *     the bounded [[perQueryTopK]] aggregate is re-derived through an
    *     independent window `row_number` formulation (same total order,
    *     different operator) and the two must agree pair-for-pair;
    *   - every query answers (nonzero results for each of the NQueries).
    * Verified in the Spark plan, reduced to values DuckDB derives from
    * the embeddings table alone. The window re-rank is verification-only
    * (candidate sets are bounded); the serving path never runs it. */
  private val s2Invariants = withOracle("s2_lsh_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS results_subset_of_candidates,
       |       TRUE AS rank_is_exact_topk_of_candidates
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val cands = s2Candidates(s, dir)
      .withColumn("cos_full", cosine_sim(col("qv"), col("embedding")))
    val got = s2Lsh.fn(s, dir)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = cands
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val disagreements = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(
        cands.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(outside)).crossJoin(broadcast(disagreements))
      .select(col("n_queries"),
        (col("n_outside") === 0).as("results_subset_of_candidates"),
        (col("n_disagree") === 0).as("rank_is_exact_topk_of_candidates"))
  }

  /** S3 IVF ANN — the classic inverted-file index: a KMeans coarse
    * quantizer (deterministic seed) partitions the corpus into `nlist`
    * cells; each query probes its `nprobe` nearest cells and exact-scores
    * only those candidates. At 100 TB the cell assignment is a one-off
    * write-side pass (store `cell` as a partition column) and the probe is
    * a partition-pruned scan — the classic billion-scale serving layout.
    * Note: this synthetic corpus is isotropic (near-worst case for any
    * space partitioner); recall floor asserted in ExtSpec. */
  private val S3Nlist = 16
  private[graft] val S3Nprobe = 6

  /** s3's stages, exposed for the invariants row: (assigned corpus
    * (vec_id, embedding, cell), queries (query_id, qv), probe set
    * (query_id, cell), candidate pairs, frozen centroid arrays). */
  private[graft] def s3Parts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame, Seq[Array[Double]]) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val e = Tables(s, dir, "embeddings")
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(S3Nlist).setSeed(42).setMaxIter(5).fit(e)
    val assigned = model.transform(e)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    // nprobe nearest centroids per query, computed driver-side (queries and
    // centroids are both small); candidate fetch = broadcast join on cell
    val centers = model.clusterCenters.map(_.toArray).toSeq
    val qRows = e.where(col("vec_id") < NQueries)
      .select(col("vec_id"), col("embedding")).collect()
    val probes = probeSet(qRows, centers, S3Nprobe)
    import s.implicits._
    val probeDf = probes.toDF("query_id", "cell")
    val queries = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val candidates = assigned
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
    (assigned, queries, probeDf, candidates, centers)
  }

  private val s3Ivf = rowsOnly("s3_ann_ivf") { (s, dir) =>
    val (_, _, _, candidates, _) = s3Parts(s, dir)
    perQueryTopK(
      candidates.withColumn("cos_full", cosine_sim(col("qv"), col("embedding"))),
      col("cos_full"), TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S3's ORACLE-CHECKED companion (the s2/s6/s8 pattern): KMeans training
    * isn't ANSI-expressible, but everything DOWNSTREAM of the frozen
    * centroids is —
    *   - the corpus assignment is the argmin over the frozen centroids:
    *     model.transform's cell equals [[nearestCell]] recomputed per row
    *     from the centroid literal (the declared assignment semantics,
    *     through a different code path);
    *   - the probe set is EXACTLY each query's nprobe nearest centroids,
    *     re-derived distributively (explode the 16-row centroid frame,
    *     window-rank by the same fold-order squared distance) against the
    *     driver-side Scala sort that built it;
    *   - results ⊆ probed-cell candidates, and the ranking is exactly the
    *     cosine top-k of the candidate set (window re-rank).
    * Reduced to values DuckDB derives from `embeddings` alone. */
  private val s3Invariants = withOracle("s3_ivf_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS assignment_is_argmin,
       |       TRUE AS probes_are_nprobe_nearest,
       |       TRUE AS results_subset_of_candidates,
       |       TRUE AS rank_is_exact_topk_of_candidates
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val (assigned, queries, probeDf, candidates, centers) = s3Parts(s, dir)
    val argminOk = assigned
      .select((col("cell") ===
        nearestCell(transform(col("embedding"), _.cast("double")), centers))
        .as("ok"))
      .agg(every(col("ok")).as("assignment_is_argmin"))
    // distributed re-derivation of the probe set: same fold-order distance,
    // window rank instead of the driver-side sort
    val centFrame = explode(array(centers.zipWithIndex.map { case (c, i) =>
      struct(lit(i.toLong).as("cell"), array(c.toIndexedSeq.map(lit): _*).as("cv"))
    }: _*)).as("ct")
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("cell").asc)
    val wantProbes = queries.select(col("query_id"), col("qv"), centFrame)
      .select(col("query_id"), col("ct.cell").as("cell"),
        aggregate(zip_with(transform(col("qv"), _.cast("double")), col("ct.cv"),
          (x, y) => (x - y) * (x - y)), lit(0.0), _ + _).as("d2"))
      .withColumn("rn", row_number().over(wProbe)).where(col("rn") <= S3Nprobe)
      .select(col("query_id"), col("cell"))
    // expected count derives from the ACTUAL number of queries (corpora
    // with < NQueries embeddings yield fewer), mirroring the oracle's
    // least(count(*), NQueries): a full-outer row count equal to
    // queries×nprobe means the two nprobe-sets coincide exactly
    val probeDisagree = probeDf.withColumn("cell", col("cell").cast("long"))
      .join(wantProbes, Seq("query_id", "cell"), "full_outer")
      .agg((count(lit(1)) === countDistinct(col("query_id")) * lit(S3Nprobe.toLong))
        .as("probes_are_nprobe_nearest"))
    val got = s3Ivf.fn(s, dir)
    val cands = candidates
      .withColumn("cos_full", cosine_sim(col("qv"), col("embedding")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = cands
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val disagreements = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(
        cands.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(argminOk)).crossJoin(broadcast(probeDisagree))
      .crossJoin(broadcast(outside)).crossJoin(broadcast(disagreements))
      .select(col("n_queries"), col("assignment_is_argmin"),
        col("probes_are_nprobe_nearest"),
        (col("n_outside") === 0).as("results_subset_of_candidates"),
        (col("n_disagree") === 0).as("rank_is_exact_topk_of_candidates"))
  }

  /** S4: int8 scalar quantization of the embedding column — per-vector
    * min/max affine codes, the standard 4× storage/bandwidth cut for the
    * candidate-generation stage of billion-scale ANN (full-precision
    * vectors are only fetched for the final re-rank, s1/s2-style). Pure
    * map-only projection — no shuffle, composes with any scan pruning; at
    * 100 TB this is a write-side layout choice (store codes+mn+mx,
    * project the float array away). Exactly SQL-expressible (affine
    * arithmetic in DOUBLE + ties-away-from-zero rounding on non-negative
    * operands agree bit-for-bit across engines), so oracle-checked; the
    * reconstruction-error bound ≤ (mx−mn)/510 per component is pinned in
    * ExtSpec. Codes emitted comma-joined (t4's canonical form — raw
    * arrays aren't hashable by the driver's compare). */
  private val s4Quantize = withOracle("s4_quantize_int8",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e)
      |SELECT vec_id, round(mn, 6) AS mn, round(mx, 6) AS mx,
      |       array_to_string(list_transform(v, x ->
      |         CASE WHEN mx = mn THEN 0
      |              ELSE cast(round((x - mn) * 255 / (mx - mn)) AS INTEGER) END), ',') AS codes
      |FROM m""".stripMargin) { (s, dir) =>
    val v = transform(col("embedding"), _.cast("double"))
    val mn = array_min(v)
    val mx = array_max(v)
    // mn_raw/mx_raw names are deliberate: aliasing `round(mn, 6) AS mn` in
    // the same select that computes codes would make Spark 4's implicit
    // LATERAL column alias resolution bind the codes' `mn` to the ROUNDED
    // value (a genuine 1-code divergence observed at a .5 boundary) —
    // codes must quantize against the raw extrema, exactly as the oracle
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), v.as("v"), mn.as("mn_raw"), mx.as("mx_raw"))
      .select(col("vec_id"), col("mn_raw"), col("mx_raw"),
        concat_ws(",", transform(col("v"), x =>
          when(col("mx_raw") === col("mn_raw"), lit(0))
            .otherwise(
              round((x - col("mn_raw")) * 255 / (col("mx_raw") - col("mn_raw")), 0).cast("int"))
          ).cast("array<string>")).as("codes"))
      .select(col("vec_id"),
        round(col("mn_raw"), 6).as("mn"), round(col("mx_raw"), 6).as("mx"), col("codes"))
  }

  /** S5: per-label embedding centroid — the class/cluster mean vectors
    * that seed an IVF coarse quantizer (s3), summarize dedup families, or
    * drive topic-balance reporting. Spark has no element-wise array-sum
    * aggregate, and none is needed: posexplode is map-side (the rows×dim
    * expansion is pipelined inside the scan stage, never materialized) and
    * the groupBy(label, pos) partial aggregation collapses each task's
    * output to ≤ labels×dim rows BEFORE the exchange — the shuffle carries
    * per-task partials, not the corpus, the identical shape to q1. Output
    * is one row per (label, component): no array column (driver's compare
    * can't hash arrays) and no float→string formatting divergence.
    * round(6) masks the ULP gap between Spark's tree-summed partials and
    * the oracle's sequential sum (relative error ~1e-13 ≪ 1e-6). */
  private val s5Centroid = withOracle("s5_label_centroid",
    """WITH u AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
      |                  unnest(embedding)::DOUBLE AS x
      |           FROM embeddings)
      |SELECT label, pos, round(avg(x), 6) AS m, count(*) AS n
      |FROM u GROUP BY label, pos""".stripMargin) { (s, dir) =>
    Tables(s, dir, "embeddings")
      .select(col("label"), posexplode(transform(col("embedding"), _.cast("double"))))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("col")), 6).as("m"), count(lit(1)).as("n"))
  }

  private def ddot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  /** S6: ANN over the int8 codes — the operator s4's layout exists FOR.
    * Candidate stage scores the corpus on dequantized codes (at 100 TB
    * the scan reads the codes+extrema columns, ¼ the bytes of the float
    * array, and the full-precision vectors stay unread); the top 3k
    * survivors per query are re-ranked at full precision. The corpus is
    * never shuffle-JOINED in either stage: the query set broadcasts into
    * the candidate scan, and the bounded survivor set (queries × 3k rows)
    * broadcasts into the re-rank fetch. The candidate stage's one
    * exchange is the per-query top-k merge of the scored pairs (the same
    * shape s1–s3 use); see [[graft.ext.extfunctions.bottom_k]] for the
    * bounded-partial form that exchange takes. Every per-row quantity
    * (query norm, dequantized vector, its norm) is hoisted out of the
    * pair stage — the per-pair work is exactly one O(dim) dot product.
    * Quantized-candidate recall vs the exact s1 is pinned in ExtSpec
    * (reconstruction error ≤ (mx−mn)/510 per component barely perturbs
    * cosine ordering; the 3× candidate pool absorbs what it does
    * perturb). */
  private val s6Quantized = rowsOnly("s6_ann_quantized") { (s, dir) =>
    val (queries, cands) = s6Parts(s, dir)
    s6Rerank(s, dir, queries, cands)
  }

  /** s6's candidate stage, exposed for the invariants row: returns
    * (queries with hoisted norms, candidate (query_id, vec_id) pairs from
    * the int8-quantized approximate scan). */
  private[graft] def s6Parts(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = Tables(s, dir, "embeddings")
    val v = transform(col("embedding"), _.cast("double"))
    // the stored candidate-stage layout (exactly what s4 materializes);
    // two selects so `codes` sees the child's mn/mx, not lateral aliases.
    // The dequantized vector and ITS norm live here too: per corpus row,
    // before the pair join — at 100 TB both are write-side columns.
    val scale = when(col("mx") === col("mn"), lit(0.0))
      .otherwise((col("mx") - col("mn")) / 255)
    val deq = transform(col("codes"), c => col("mn") + c.cast("double") * scale)
    val coded = e
      // v in its own select: array_min/array_max over the alias, not three
      // independent copies of the cast-transform per row
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .select(col("vec_id"), col("mn"), col("mx"),
        transform(col("v"), x =>
          when(col("mx") === col("mn"), lit(0))
            .otherwise(round((x - col("mn")) * 255 / (col("mx") - col("mn")), 0).cast("int")))
          .as("codes"))
      .select(col("vec_id"), deq.as("deq"))
      .select(col("vec_id"), col("deq"), sqrt(ddot(col("deq"), col("deq"))).as("dnrm"))
    // query norms hoisted into the broadcast frame, exactly as s1 does
    val queries = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), v.as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"))

    val candK = TopK * 3
    val scored = coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_approx", ddot(col("qv"), col("deq")) / (col("qnrm") * col("dnrm")))
    val cands = perQueryTopK(scored, col("cos_approx"), candK)
      .select(col("query_id"), col("vec_id"))
    (queries, cands)
  }

  /** s6's full-precision re-rank over a bounded candidate set: the corpus
    * scan stays in place, the candidate list broadcasts onto it; the
    * full-precision norm is computed only for the ≤ queries×3k
    * survivors, after the join. */
  private def s6Rerank(s: SparkSession, dir: String,
      queries: DataFrame, cands: DataFrame): DataFrame = {
    val e = Tables(s, dir, "embeddings")
    val v = transform(col("embedding"), _.cast("double"))
    val reranked = e.select(col("vec_id"), v.as("fv"))
      .join(broadcast(cands), "vec_id")
      .withColumn("fnrm", sqrt(ddot(col("fv"), col("fv"))))
      .join(broadcast(queries), "query_id")
      .withColumn("cos_full", ddot(col("qv"), col("fv")) / (col("qnrm") * col("fnrm")))
    perQueryTopK(reranked, col("cos_full"), TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S6's ORACLE-CHECKED companion (the s2 invariants pattern plus the
    * quantizer's own bound):
    *   - reconstruction error: every dequantized component is within the
    *     int8 quantizer's declared half-step (mx−mn)/510 of the original
    *     (the bound s4's oracle-checked artifact promises);
    *   - the final answer is EXACTLY the full-precision cosine top-k of
    *     the candidate set (independent window formulation);
    *   - results ⊆ candidates.
    * All reduced to DuckDB-derivable values over `embeddings`. */
  private val s6Invariants = withOracle("s6_quantize_invariants",
    s"""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |       TRUE AS reconstruction_within_half_step,
       |       TRUE AS results_subset_of_candidates,
       |       TRUE AS rank_is_exact_topk_of_candidates
       |FROM embeddings""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "embeddings")
    val v = transform(col("embedding"), _.cast("double"))
    val scale = when(col("mx") === col("mn"), lit(0.0))
      .otherwise((col("mx") - col("mn")) / 255)
    val deq = transform(col("codes"), c => col("mn") + c.cast("double") * scale)
    val errOk = e
      .select(col("vec_id"), v.as("v"))
      .select(col("vec_id"), col("v"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"))
      .select(col("vec_id"), col("v"), col("mn"), col("mx"),
        transform(col("v"), x =>
          when(col("mx") === col("mn"), lit(0))
            .otherwise(round((x - col("mn")) * 255 / (col("mx") - col("mn")), 0).cast("int")))
          .as("codes"))
      .select(col("vec_id"),
        aggregate(zip_with(col("v"), deq, (x, d) => abs(x - d)), lit(0.0),
          (acc, a) => greatest(acc, a)).as("max_err"),
        ((col("mx") - col("mn")) / 510 + lit(1e-12)).as("half_step"))
      .agg(count(lit(1)).as("n_vectors"),
        every(col("max_err") <= col("half_step")).as("reconstruction_within_half_step"))
    val (queries, cands) = s6Parts(s, dir)
    val got = s6Rerank(s, dir, queries, cands)
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = e.select(col("vec_id"), v.as("fv"))
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos_full",
        ddot(col("qv"), col("fv")) / (col("qnrm") * sqrt(ddot(col("fv"), col("fv")))))
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val disagreements = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(cands.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    errOk.crossJoin(broadcast(outside)).crossJoin(broadcast(disagreements))
      .select(col("n_vectors"), col("reconstruction_within_half_step"),
        (col("n_outside") === 0).as("results_subset_of_candidates"),
        (col("n_disagree") === 0).as("rank_is_exact_topk_of_candidates"))
  }

  /** Argmin-cell assignment as a pure map-side expression: the bounded
    * centroid table rides into the scan as a LITERAL array-of-structs and
    * each vector folds to its nearest cell (squared L2) in one projection
    * — no join, no exchange, the shape that assigns a 100 TB ingest batch
    * to IVF cells at scan throughput. Ties break to the lowest cell id
    * (strict less-than keeps the first argmin). The fold's element order
    * and the (x−y)² accumulation order are fixed, so the result is
    * bit-reproducible against any same-order reimplementation (pinned in
    * ExtSpec vs plain Scala). d2 is evaluated twice per centroid
    * (condition + kept struct) — 2× of an O(dim) fold over ≤nlist
    * centroids, well off the hot path. */
  private[graft] def nearestCell(v: Column, cents: Seq[Array[Double]]): Column = {
    val centArr = array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i).as("cell"), array(c.map(lit): _*).as("cv"))
    }: _*)
    val best = aggregate(centArr,
      struct(lit(-1).as("cell"), lit(Double.MaxValue).as("d2")),
      (acc, ct) => {
        val d2 = aggregate(
          zip_with(v, ct.getField("cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _)
        when(d2 < acc.getField("d2"),
          struct(ct.getField("cell").as("cell"), d2.as("d2"))).otherwise(acc)
      })
    best.getField("cell")
  }

  /** Deterministic base-corpus centroids (seeded KMeans on the base slice
    * `vec_id % 10 < 8` — d9's snapshot split). Exposed so ExtSpec can
    * recompute the identical centroid set for its independent argmin. */
  private[graft] def ivfCentroids(s: SparkSession, dir: String,
      nlist: Int = 16): Seq[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val base = Tables(s, dir, "embeddings")
      .where(col("vec_id") % 10 < 8)
      .withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans().setK(nlist).setSeed(42).setMaxIter(5).fit(base)
    model.clusterCenters.map(_.toArray).toSeq
  }

  /** S7: incremental IVF cell assignment — the index-MAINTENANCE step s3
    * implies but daily ingest actually needs (d9's incremental shape for
    * the ANN family): centroids are a write-side one-off trained on the
    * base snapshot; each NEW batch (vec_id % 10 >= 8 here) is assigned to
    * its cell entirely map-side via [[nearestCell]] — zero exchanges,
    * zero retraining, O(batch × nlist × dim). The assignment becomes the
    * partition column s3 reads. KMeans isn't ANSI-expressible → rows-only;
    * equality with a plain-Scala same-formula argmin, totality and
    * determinism are pinned in ExtSpec. */
  private val s7IvfAssign = rowsOnly("s7_ivf_assign") { (s, dir) =>
    val cents = ivfCentroids(s, dir)
    Tables(s, dir, "embeddings")
      .where(col("vec_id") % 10 >= 8)
      .select(col("vec_id"),
        nearestCell(transform(col("embedding"), _.cast("double")), cents)
          .cast("long").as("cell"))
  }

  /** S7's ORACLE-CHECKED companion: the centroid TRAINING is learned, but
    * the assignment downstream of the frozen centroids is pure algebra —
    *   - totality: every new-batch vector gets exactly one cell, in
    *     [0, nlist);
    *   - the map-side [[nearestCell]] fold equals an INDEPENDENT argmin
    *     formulation: explode the centroid frame, same fold-order squared
    *     distance, `min(struct(d2, cell))` per vector (a groupBy argmin —
    *     different operator, same lowest-cell tie-break).
    * Reduced to values DuckDB derives from `embeddings` alone. */
  private val s7Invariants = withOracle("s7_assign_invariants",
    """SELECT CAST(count(*) AS BIGINT) AS n_assigned,
      |       TRUE AS cells_in_range,
      |       TRUE AS assignment_is_argmin
      |FROM embeddings WHERE vec_id % 10 >= 8""".stripMargin) { (s, dir) =>
    val cents = ivfCentroids(s, dir)
    val nlist = cents.length
    val got = s7IvfAssign.fn(s, dir)
    val centFrame = explode(array(cents.zipWithIndex.map { case (c, i) =>
      struct(lit(i.toLong).as("cell"), array(c.toIndexedSeq.map(lit): _*).as("cv"))
    }: _*)).as("ct")
    val want = Tables(s, dir, "embeddings")
      .where(col("vec_id") % 10 >= 8)
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"), centFrame)
      .select(col("vec_id"), col("ct.cell").as("cell"),
        aggregate(zip_with(col("v"), col("ct.cv"), (x, y) => (x - y) * (x - y)),
          lit(0.0), _ + _).as("d2"))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cell"))).getField("cell").as("cell_w"))
    got.join(want, Seq("vec_id"), "full_outer")
      .agg(count(lit(1)).as("n_assigned"),
        every(col("cell").isNotNull && col("cell") >= 0 && col("cell") < nlist)
          .as("cells_in_range"),
        every(col("cell") === col("cell_w")).as("assignment_is_argmin"))
  }

  /** PQ geometry: M subspaces × K centroids per codebook. dim 64 → subdim
    * 4; codes are M small ints (≈M bytes stored) vs 64 float32s — a 16×
    * candidate-stage layout cut, one tier past s4's 4×. */
  val PqM = 16
  val PqK = 16

  /** Product-quantization codebooks (Jégou et al. 2011): an independent
    * seeded KMeans per SUBSPACE over the corpus's subvectors. Training is
    * the s3/sem1 category (a one-off index-build pass, bench-excluded);
    * the artifact is M×K×subdim doubles — ~16 KB, a driver-side literal
    * like s7's centroid set. */
  private[graft] def pqCodebooks(s: SparkSession, dir: String,
      m: Int = PqM, k: Int = PqK): Array[Array[Array[Double]]] =
    pqCodebooksOf(Tables(s, dir, "embeddings"), m, k)

  /** [[pqCodebooks]] over any (vec_id, embedding) frame — the build-time
    * form [[graft.ext.AnnIndex]] trains its persisted codebooks with
    * (identical input + seeds ⇒ identical codebooks ⇒ served ≡ inline). */
  private[graft] def pqCodebooksOf(e: DataFrame,
      m: Int = PqM, k: Int = PqK): Array[Array[Array[Double]]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val dim = e.select(size(col("embedding"))).head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    (0 until m).map { mi =>
      val feats = e.select(array_to_vector(
        slice(transform(col("embedding"), _.cast("double")), mi * sub + 1, sub))
        .as("features"))
      new KMeans().setK(k).setSeed(42L + mi).setMaxIter(5).fit(feats)
        .clusterCenters.map(_.toArray)
    }.toArray
  }

  /** S8: PQ ANN with asymmetric-distance scoring — the IVF-PQ candidate
    * stage of billion-scale serving (FAISS's default layout), one
    * compression tier past s6: the corpus is represented by M per-subspace
    * centroid CODES (encode = [[nearestCell]] per subspace, a map-only
    * projection exactly like s7's cell assignment — at 100 TB a write-side
    * column), and a query scores a candidate WITHOUT touching its vector:
    * each query precomputes its M×K inner-product LUT against the
    * broadcast codebooks, and the per-pair work is M table lookups —
    * `Σ_m lut[m][code_m]` ≈ ⟨q, x̂⟩. Subspaces are disjoint coordinates, so
    * the reconstruction's norm is exact from per-centroid norms
    * (`‖x̂‖² = Σ_m ‖c_m,code‖²`), also code-derived — the candidate scan
    * reads codes ONLY. Top candK survivors re-rank at full precision
    * (s6's discipline, wider pool for the lossier codes). The corpus is
    * never shuffle-joined: queries+LUTs broadcast in, the bounded
    * survivor set broadcasts into the re-rank fetch. KMeans training isn't
    * ANSI-expressible → rows-only; recall-vs-s1, code-range totality and
    * determinism are pinned in ExtSpec. */
  private val s8AnnPq = rowsOnly("s8_ann_pq") { (s, dir) =>
    val (queries, _, cands, _, _) = s8Parts(s, dir)
    // full-precision re-rank, s6's exact shape
    s6Rerank(s, dir, queries.select("query_id", "qv", "qnrm"), cands)
  }

  /** s8's stages, exposed for the invariants row: (queries with ADC LUTs,
    * coded corpus (vec_id, codes, rnrm), candidate pairs, codebook
    * literal, subspace width). */
  private[graft] def s8Parts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, Column, Int) = {
    val cb = pqCodebooks(s, dir)
    val sub = cb(0)(0).length
    // centroid squared norms per (subspace, code): the code-only norm table
    val cn2Lit = array(cb.map(mk =>
      array(mk.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)

    val e = Tables(s, dir, "embeddings")
    val v = transform(col("embedding"), _.cast("double"))
    // encode: one argmin fold per subspace — the same nearestCell kernel
    // s7 proves bit-reproducible, applied to each subvector slice
    val codes = array((0 until PqM).map { mi =>
      nearestCell(slice(v, mi * sub + 1, sub), cb(mi).toIndexedSeq)
    }: _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val coded = e.select(col("vec_id"), codes.as("codes"))
      .select(col("vec_id"), col("codes"),
        sqrt(aggregate(
          transform(seqM, m => element_at(element_at(cn2Lit, m + 1),
            element_at(col("codes"), m + 1) + 1)),
          lit(0.0), _ + _)).as("rnrm"))

    // queries carry their full vector, norm, and the M×K ADC lookup table
    val queries = e.where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), v.as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"),
        transform(seqM, m =>
          transform(sequence(lit(0), lit(PqK - 1)), k =>
            ddot(slice(col("qv"), m * sub + 1, lit(sub)),
              element_at(element_at(cbLit, m + 1), k + 1)))).as("lut"))

    val candK = TopK * 5 // wider pool than s6: PQ codes are lossier
    val adc = aggregate(
      transform(seqM, m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1)),
      lit(0.0), _ + _)
    val scored = coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_adc", adc / (col("qnrm") * col("rnrm")))
    val cands = perQueryTopK(scored, col("cos_adc"), candK)
      .select(col("query_id"), col("vec_id"))
    (queries, coded, cands, cbLit, sub)
  }

  /** S8's ORACLE-CHECKED companion — PQ's defining algebra, verified on
    * the real artifacts:
    *   - every code in [0, K) for all M subspaces;
    *   - the ADC identity: the LUT-sum score equals ⟨q, x̂⟩ against the
    *     directly reconstructed vector (what makes table lookups a
    *     distance computation at all);
    *   - the code-only norm identity: ‖x̂‖ from per-centroid norms equals
    *     the reconstruction's norm (exact — subspaces are disjoint
    *     coordinates);
    *   - the final answer is EXACTLY the full-precision cosine top-k of
    *     the candidate set, and results ⊆ candidates.
    * Reduced to DuckDB-derivable values over `embeddings`. */
  private val s8Invariants = withOracle("s8_pq_invariants",
    s"""SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       |       TRUE AS codes_in_range,
       |       TRUE AS adc_equals_reconstructed_dot,
       |       TRUE AS code_norm_equals_reconstruction_norm,
       |       TRUE AS results_subset_of_candidates,
       |       TRUE AS rank_is_exact_topk_of_candidates
       |FROM embeddings""".stripMargin) { (s, dir) =>
    val (queries, coded, cands, cbLit, sub) = s8Parts(s, dir)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val recon = flatten(transform(seqM, m =>
      element_at(element_at(cbLit, m + 1), element_at(col("codes"), m + 1) + 1)))
    val codeProps = coded
      .select(col("vec_id"), col("codes"), col("rnrm"), recon.as("recon"))
      .agg(count(lit(1)).as("n_vectors"),
        every(forall(col("codes"), c => c >= 0 && c < PqK)).as("codes_in_range"),
        every(abs(col("rnrm") - sqrt(ddot(col("recon"), col("recon"))))
          <= lit(1e-6) * (col("rnrm") + 1)).as("code_norm_equals_reconstruction_norm"))
    // ADC identity over every scored pair (the candidate scan itself)
    val adc = aggregate(
      transform(seqM, m => element_at(element_at(col("lut"), m + 1),
        element_at(col("codes"), m + 1) + 1)),
      lit(0.0), _ + _)
    val adcProps = coded
      .select(col("vec_id"), col("codes"), recon.as("recon"))
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .select((abs(adc - ddot(col("qv"), col("recon")))
        <= lit(1e-6) * (abs(adc) + 1)).as("ok"))
      .agg(every(col("ok")).as("adc_equals_reconstructed_dot"))
    val got = s6Rerank(s, dir, queries.select("query_id", "qv", "qnrm"), cands)
    val e = Tables(s, dir, "embeddings")
    val v = transform(col("embedding"), _.cast("double"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = e.select(col("vec_id"), v.as("fv"))
      .join(broadcast(cands), "vec_id")
      .join(broadcast(queries.select("query_id", "qv", "qnrm")), "query_id")
      .withColumn("cos_full",
        ddot(col("qv"), col("fv")) / (col("qnrm") * sqrt(ddot(col("fv"), col("fv")))))
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val disagreements = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(cands.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    codeProps.crossJoin(broadcast(adcProps))
      .crossJoin(broadcast(outside)).crossJoin(broadcast(disagreements))
      .select(col("n_vectors"), col("codes_in_range"),
        col("adc_equals_reconstructed_dot"),
        col("code_norm_equals_reconstruction_norm"),
        (col("n_outside") === 0).as("results_subset_of_candidates"),
        (col("n_disagree") === 0).as("rank_is_exact_topk_of_candidates"))
  }

  /** S9: margin-based parallel-pair mining (Artetxe & Schwenk 2019,
    * "Margin-based Parallel Corpus Mining with Multilingual Sentence
    * Embeddings" §3 — the published ratio-margin criterion LASER-style
    * bitext mining uses): for a bounded batch of SOURCE vectors against a
    * TARGET corpus (here the even/odd halves of the embeddings table),
    * score every candidate pair by cos(x,y) normalized by the mean of
    * each side's k-NN neighborhood — margin = cos(x,y) / ((avgK(x) +
    * avgK(y)) / 2) — and emit each source's best target where the margin
    * clears 1.0. The neighborhood normalization is what kills hub
    * vectors (generically-close embeddings that plain cosine would pair
    * with everything).
    *
    * Scale shape: the source batch is BOUNDED and broadcast (the mining
    * loop processes sources in batches); both k-NN means and the final
    * argmax are bottom-k PARTIAL aggregates, so every exchange carries
    * tasks × keys × k rows, never the pair set; the all-pairs candidate
    * generation here is the exact oracle anchor (d5's role) — at corpus
    * scale the pair stage composes with the s2/s3 bucketed candidate
    * generators, margin scoring unchanged. FP order is pinned on both
    * engines (fold over the (-cos, id)-sorted top-k list), so the gate
    * hash-compares exactly. */
  private val MineK = 4
  private val MineSrcCap = 400L
  private val MineThreshold = 1.0

  /** Mean of the top-[[MineK]] `cos` values per `key` (fold in sorted
    * (-cos, id) order — the FP accumulation order the oracle mirrors). */
  private def kNNMean(pairs: DataFrame, key: String, other: String,
      out: String): DataFrame =
    pairs.groupBy(col(key))
      .agg(bottom_k(
        when(col("cos").isNotNull && !isnan(col("cos")),
          struct((-col("cos")).as("ns"), col(other).as("vec_id"))),
        MineK).as("top"))
      .select(col(key),
        (aggregate(col("top"), lit(0d), (acc, t) => acc - t("ns"))
          / size(col("top"))).as(out))

  private val s9Mining = withOracle("s9_margin_mining",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |src AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 0 AND vec_id < $MineSrcCap),
       |tgt AS (SELECT vec_id, v FROM e WHERE vec_id % 2 = 1),
       |p AS (SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
       |         list_dot_product(s.v,t.v) /
       |           (sqrt(list_dot_product(s.v,s.v)) * sqrt(list_dot_product(t.v,t.v))) AS cos
       |      FROM src s CROSS JOIN tgt t),
       |sa AS (SELECT src_id, list_reduce(l, (a,b) -> a+b)/len(l) AS a_src FROM (
       |        SELECT src_id, (list(cos ORDER BY cos DESC, tgt_id))[1:$MineK] AS l
       |        FROM p GROUP BY src_id)),
       |ta AS (SELECT tgt_id, list_reduce(l, (a,b) -> a+b)/len(l) AS a_tgt FROM (
       |        SELECT tgt_id, (list(cos ORDER BY cos DESC, src_id))[1:$MineK] AS l
       |        FROM p GROUP BY tgt_id)),
       |m AS (SELECT p.src_id, p.tgt_id, p.cos/((sa.a_src+ta.a_tgt)/2) AS margin
       |      FROM p JOIN sa USING(src_id) JOIN ta USING(tgt_id)),
       |r AS (SELECT src_id, tgt_id, margin,
       |        row_number() OVER (PARTITION BY src_id
       |                           ORDER BY margin DESC, tgt_id) AS rn FROM m)
       |SELECT src_id, tgt_id, round(margin,4) AS margin
       |FROM r WHERE rn = 1 AND margin >= $MineThreshold""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(dot_f(col("embedding"), col("embedding"))).as("nrm"))
    val src = e.where(pmod(col("vec_id"), lit(2L)) === 0 && col("vec_id") < MineSrcCap)
      .select(col("vec_id").as("src_id"), col("embedding").as("sv"), col("nrm").as("snrm"))
    val tgt = e.where(pmod(col("vec_id"), lit(2L)) === 1)
      .select(col("vec_id").as("tgt_id"), col("embedding").as("tv"), col("nrm").as("tnrm"))
    // pair scores feed three aggregates (two k-NN means + the argmax):
    // materialize once — the frame is |tgt| x |bounded src| rows of 3
    // scalars, the mining batch's working set by construction
    val pairs = tgt.join(broadcast(src), lit(true))
      .withColumn("cos", dot_f(col("sv"), col("tv")) / (col("snrm") * col("tnrm")))
      .select("src_id", "tgt_id", "cos")
      .localCheckpoint(false)
    val m = pairs
      .join(kNNMean(pairs, "src_id", "tgt_id", "a_src"), "src_id")
      .join(kNNMean(pairs, "tgt_id", "src_id", "a_tgt"), "tgt_id")
      .withColumn("margin", col("cos") / ((col("a_src") + col("a_tgt")) / lit(2d)))
    m.groupBy(col("src_id"))
      .agg(bottom_k(
        when(col("margin").isNotNull && !isnan(col("margin")),
          struct((-col("margin")).as("nm"), col("tgt_id").as("tgt_id"))),
        1).as("b"))
      .select(col("src_id"), explode(col("b")).as("t"))
      .select(col("src_id"), col("t.tgt_id").as("tgt_id"), (-col("t.nm")).as("margin"))
      .where(col("margin") >= MineThreshold)
      .select(col("src_id"), col("tgt_id"), round(col("margin"), 4).as("margin"))
  }

  /** nprobe nearest centroids per collected query row (rows are
    * (id: Long, embedding: Seq[Float])) — ONE definition shared by the
    * inline s3 stage and the artifact-served s10 path, so their probe
    * sets are definitionally identical (same Float→Double widening, same
    * stable sort with centroid-order tie-break). */
  private[graft] def probeSet(qRows: Array[org.apache.spark.sql.Row],
      centers: Seq[Array[Double]], nprobe: Int): Seq[(Long, Int)] =
    qRows.toSeq.flatMap { r =>
      val qv = r.getSeq[Float](1).toArray
      def dist(c: Array[Double]): Double =
        c.zip(qv).map { case (x, y) => (x - y) * (x - y) }.sum
      centers.zipWithIndex.sortBy(p => dist(p._1)).take(nprobe)
        .map { case (_, cell) => (r.getLong(0), cell) }
    }

  /** S10 serving kernel: answer an s3-shaped nprobe cosine top-k from a
    * committed [[graft.ext.AnnIndex]] artifact — the persisted-index rung
    * past s3's inline train-per-query. The codebook is a driver-side
    * nlist-row read; the corpus scan touches ONLY the probed cells'
    * directories (`cell` is the artifact's partition column, so the
    * bounded isin prunes at the directory level — PlanSpec-pinned); the
    * probe map and query vectors broadcast into it; ranking is the same
    * bounded [[perQueryTopK]] every ANN stage uses. Zero training, zero
    * corpus-keyed shuffle — at 100 TB a query costs nprobe/nlist of one
    * cell-pruned scan. */
  private[graft] def ivfServedTopK(s: SparkSession, indexPath: String,
      queries: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import s.implicits._
    val centers = graft.ext.AnnIndex.readCentroids(s, indexPath)
    val qRows = queries.select(col("query_id"), col("qv")).collect()
    val probes = probeSet(qRows, centers, nprobe)
    val probeDf = probes.toDF("query_id", "cell")
    val cells = probes.map(_._2).distinct.sorted
    val codes = graft.ext.AnnIndex.readCodes(s, indexPath)
      .where(col("cell").isin(cells: _*)) // directory-level partition pruning
      .select(col("vec_id"), col("embedding"), col("cell"))
    val candidates = codes
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries.select(col("query_id"), col("qv"))), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
    perQueryTopK(
      candidates.withColumn("cos_full", cosine_sim(col("qv"), col("embedding"))),
      col("cos_full"), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S11 serving kernel: the s6-shaped QUANTIZED query answered from the
    * [[graft.ext.AnnIndex]] artifact — the candidate stage reads ONLY the
    * stored (mn, mx, codes) columns (¼ the bytes of the float array; at
    * 100 TB the scan never touches full precision), dequantizes and
    * scores map-side exactly as the inline s6 stage does, and the
    * bounded survivor set re-ranks against the artifact's own float
    * column. No centroids, no training at serve time — the cell layout
    * just rides along as the artifact's partitioning. Same kernels as
    * s6Parts/s6Rerank, so served ≡ inline is exact. */
  private[graft] def quantizedServedTopK(s: SparkSession, indexPath: String,
      queries0: DataFrame, k: Int): DataFrame = {
    val codes = graft.ext.AnnIndex.readCodes(s, indexPath)
    val scale = when(col("mx") === col("mn"), lit(0.0))
      .otherwise((col("mx") - col("mn")) / 255)
    val deq = transform(col("codes"), c => col("mn") + c.cast("double") * scale)
    val coded = codes
      .select(col("vec_id"), deq.as("deq"))
      .select(col("vec_id"), col("deq"), sqrt(ddot(col("deq"), col("deq"))).as("dnrm"))
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"))
    val candK = k * 3 // s6's pool contract scales with the REQUESTED k
    val scored = coded.join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_approx", ddot(col("qv"), col("deq")) / (col("qnrm") * col("dnrm")))
    val cands = perQueryTopK(scored, col("cos_approx"), candK)
      .select(col("query_id"), col("vec_id"))
    val reranked = codes
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("fv"))
      .join(broadcast(cands), "vec_id")
      .withColumn("fnrm", sqrt(ddot(col("fv"), col("fv"))))
      .join(broadcast(queries), "query_id")
      .withColumn("cos_full", ddot(col("qv"), col("fv")) / (col("qnrm") * col("fnrm")))
    perQueryTopK(reranked, col("cos_full"), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S11: the artifact-SERVED quantized query — s6's request answered
    * from the persisted index's int8 columns. Rows-only (the artifact's
    * cell layout comes from KMeans); the ⊕ companion proves served ≡
    * inline s6 hash-exactly. */
  private val s11Served = rowsOnly("s11_ann_served_quantized") { (s, dir) =>
    quantizedServedTopK(s, servedIndexFor(s, dir), s10Queries(s, dir), TopK)
  }

  /** S11's ORACLE-CHECKED companion: the stored (mn, mx, codes) columns
    * are s4's exact quantization and the float column round-trips
    * parquet exactly, so the artifact-served quantized query equals the
    * inline s6 answer pair-for-pair score-for-score. */
  private val s11Invariants = withOracle("s11_served_quantized_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS served_equals_inline
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val got = s11Served.fn(s, dir)
    val want = s6Quantized.fn(s, dir).withColumnRenamed("cos", "cos_w")
    val disagree = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(disagree))
      .select(col("n_queries"), (col("n_disagree") === 0).as("served_equals_inline"))
  }

  /** S12 serving kernel: the s8-shaped PQ/ADC query answered from the
    * [[graft.ext.AnnIndex]] artifact — the candidate stage reads ONLY the
    * stored `pq_codes` (M small ints ≈ M bytes, the 16× tier past s11's
    * ¼) plus the precomputed code-only norm `pq_rnrm`; each query's M×K
    * inner-product LUT comes from the persisted codebooks, so scoring a
    * candidate is M table lookups with no vector read at all. Bounded
    * survivors re-rank against the artifact's float column. Same ADC
    * expressions as the inline s8 stage, same codebook seeds at build ⇒
    * served ≡ inline exactly. */
  private[graft] def pqServedTopK(s: SparkSession, indexPath: String,
      queries0: DataFrame, k: Int): DataFrame = {
    val cb = graft.ext.AnnIndex.readPqCodebooks(s, indexPath)
    val sub = cb(0)(0).length
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val codes = graft.ext.AnnIndex.readCodes(s, indexPath)
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"),
        transform(seqM, m =>
          transform(sequence(lit(0), lit(PqK - 1)), c =>
            ddot(slice(col("qv"), m * sub + 1, lit(sub)),
              element_at(element_at(cbLit, m + 1), c + 1)))).as("lut"))
    val candK = k * 5 // s8's wider pool (scaled to the requested k) — PQ codes are lossier
    val adc = aggregate(
      transform(seqM, m => element_at(element_at(col("lut"), m + 1),
        element_at(col("pq_codes"), m + 1) + 1)),
      lit(0.0), _ + _)
    val scored = codes.select(col("vec_id"), col("pq_codes"), col("pq_rnrm"))
      .join(broadcast(queries), col("query_id") =!= col("vec_id"))
      .withColumn("cos_adc", adc / (col("qnrm") * col("pq_rnrm")))
    val cands = perQueryTopK(scored, col("cos_adc"), candK)
      .select(col("query_id"), col("vec_id"))
    val reranked = codes
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("fv"))
      .join(broadcast(cands), "vec_id")
      .withColumn("fnrm", sqrt(ddot(col("fv"), col("fv"))))
      .join(broadcast(queries.select("query_id", "qv", "qnrm")), "query_id")
      .withColumn("cos_full", ddot(col("qv"), col("fv")) / (col("qnrm") * col("fnrm")))
    perQueryTopK(reranked, col("cos_full"), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S12: the artifact-SERVED PQ query — s8's request from the persisted
    * index's code columns. Rows-only (PQ codebooks are trained); the ⊕
    * companion proves served ≡ inline s8 hash-exactly. */
  private val s12Served = rowsOnly("s12_ann_served_pq") { (s, dir) =>
    pqServedTopK(s, servedIndexFor(s, dir), s10Queries(s, dir), TopK)
  }

  /** S12's ORACLE-CHECKED companion: identical training input + seeds at
    * build ⇒ identical codebooks ⇒ identical codes, norms, LUTs,
    * candidates and ranking — served equals the inline s8 answer
    * pair-for-pair. */
  private val s12Invariants = withOracle("s12_served_pq_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS served_equals_inline
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val got = s12Served.fn(s, dir)
    val want = s8AnnPq.fn(s, dir).withColumnRenamed("cos", "cos_w")
    val disagree = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(disagree))
      .select(col("n_queries"), (col("n_disagree") === 0).as("served_equals_inline"))
  }

  /** S13 serving kernel — the COMPOSED IVF+PQ query, the billion-scale
    * serving layout proper (FAISS's IVFADC, Jégou et al. 2011 §IV): the
    * coarse quantizer prunes the scan to the probed cells' DIRECTORIES
    * (s10's partition pruning), the ADC stage scores only those cells'
    * `pq_codes` (M byte-lookups per candidate, no vector read — s12's
    * 16× tier), and the bounded survivors re-rank at full precision. A
    * query's candidate cost is nprobe/nlist × M bytes/vector — the
    * product of both prunings; nothing in the pipeline reads the float
    * column except the ≤ queries×candK re-rank sliver. */
  private[graft] def ivfPqServedTopK(s: SparkSession, indexPath: String,
      queries0: DataFrame, nprobe: Int, k: Int): DataFrame = {
    import s.implicits._
    val cents = graft.ext.AnnIndex.readCentroids(s, indexPath)
    val qRows = queries0.select(col("query_id"), col("qv")).collect()
    val probes = probeSet(qRows, cents, nprobe)
    val probeDf = probes.toDF("query_id", "cell")
    val cells = probes.map(_._2).distinct.sorted
    val cb = graft.ext.AnnIndex.readPqCodebooks(s, indexPath)
    val sub = cb(0)(0).length
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val codes = graft.ext.AnnIndex.readCodes(s, indexPath)
      .where(col("cell").isin(cells: _*)) // directory-level partition pruning
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"),
        transform(seqM, m =>
          transform(sequence(lit(0), lit(PqK - 1)), c =>
            ddot(slice(col("qv"), m * sub + 1, lit(sub)),
              element_at(element_at(cbLit, m + 1), c + 1)))).as("lut"))
    val adc = aggregate(
      transform(seqM, m => element_at(element_at(col("lut"), m + 1),
        element_at(col("pq_codes"), m + 1) + 1)),
      lit(0.0), _ + _)
    val candK = k * 5 // scales with the requested k, like pqServedTopK
    val scored = codes.select(col("vec_id"), col("cell"), col("pq_codes"), col("pq_rnrm"))
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos_adc", adc / (col("qnrm") * col("pq_rnrm")))
    val cands = perQueryTopK(scored, col("cos_adc"), candK)
      .select(col("query_id"), col("vec_id"))
    val reranked = codes
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("fv"))
      .join(broadcast(cands), "vec_id")
      .withColumn("fnrm", sqrt(ddot(col("fv"), col("fv"))))
      .join(broadcast(queries.select("query_id", "qv", "qnrm")), "query_id")
      .withColumn("cos_full", ddot(col("qv"), col("fv")) / (col("qnrm") * col("fnrm")))
    perQueryTopK(reranked, col("cos_full"), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S13: the composed IVF+PQ serve. Rows-only (both quantizers are
    * trained); the ⊕ companion re-derives the ENTIRE two-stage pipeline
    * through independent formulations. */
  private val s13Served = rowsOnly("s13_ann_served_ivfpq") { (s, dir) =>
    ivfPqServedTopK(s, servedIndexFor(s, dir), s10Queries(s, dir), S3Nprobe, TopK)
  }

  /** S14 serving kernel — IVFADC with RESIDUAL encoding (Jégou et al.
    * 2011 §IV as published: PQ over x − centroid(cell), not over x).
    * s13's raw-code ADC collapses on clustered corpora — every member of
    * a tight cluster shares one code word, so ADC assigns the whole
    * cluster one score and the candidate stage degenerates to a
    * tie-break (measured at 1M vectors, 32 planted clusters: recall@10
    * ≈ 0 raw vs 0.9+ residual — SCALE.md §7). The residual IS the
    * within-cluster signal. Identity served here:
    *   ⟨q, x̂⟩ = ⟨q, c_cell⟩ + Σ_m lut_r[m][code_m]
    * with the coarse term a per-(query, probed-cell) scalar computed
    * once driver-side (≤ queries × nprobe values, broadcast with the
    * probe map), the residual LUT built from the persisted residual
    * codebooks, and ‖x̂‖ the EXACT per-row reconstruction norm stored at
    * encode time (`pqr_rnrm`). Candidate cost is identical to s13 —
    * nprobe/nlist × M bytes/vector — the recall is what changes. */
  private[graft] def ivfPqrServedTopK(s: SparkSession, indexPath: String,
      queries0: DataFrame, nprobe: Int, k: Int,
      candMult: Int = 20): DataFrame = {
    import s.implicits._
    val cents = graft.ext.AnnIndex.readCentroids(s, indexPath)
    val qRows = queries0.select(col("query_id"), col("qv")).collect()
    val probes = probeSet(qRows, cents, nprobe)
    val qVecs = qRows.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    // the coarse ⟨q, c_cell⟩ term per probe pair — bounded by
    // queries × nprobe, computed where the probe set already lives
    val probeDf = probes.map { case (qid, cell) =>
      val qv = qVecs(qid)
      (qid, cell, cents(cell).zip(qv).map { case (x, y) => x * y.toDouble }.sum)
    }.toDF("query_id", "cell", "qc")
    val cells = probes.map(_._2).distinct.sorted
    val cb = graft.ext.AnnIndex.readPqrCodebooks(s, indexPath)
    val sub = cb(0)(0).length
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val codes = graft.ext.AnnIndex.readCodes(s, indexPath)
      .where(col("cell").isin(cells: _*)) // directory-level partition pruning
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"),
        transform(seqM, m =>
          transform(sequence(lit(0), lit(PqK - 1)), c =>
            ddot(slice(col("qv"), m * sub + 1, lit(sub)),
              element_at(element_at(cbLit, m + 1), c + 1)))).as("lut"))
    val adcR = aggregate(
      transform(seqM, m => element_at(element_at(col("lut"), m + 1),
        element_at(col("pqr_codes"), m + 1) + 1)),
      lit(0.0), _ + _)
    // candMult = the re-rank depth knob (FAISS's k-factor): ADC only has
    // to land the true neighbors inside the top candMult·k — the bounded
    // full-precision re-rank does the final ranking. Raising it trades a
    // linearly larger (still bounded) re-rank sliver for recall when the
    // quantizer's resolution, not IVF pruning, is the limiter. The
    // default sits at the MEASURED operating point (SCALE.md §7,
    // 1M vectors: clustered corpus recall@10 = 0.58 at 5 → 0.79 at 20 →
    // 0.90 at 50 with serve cost nearly flat 1.64→1.78 s since ADC
    // dominates; smooth corpora saturate far earlier) — candMult = 20 is
    // where the recall curve crosses its knee on the adversarial regime
    // while the re-rank sliver stays k-bounded.
    val candK = k * candMult
    val scored = codes.select(col("vec_id"), col("cell"),
        col("pqr_codes"), col("pqr_rnrm"))
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("cos_adc", (col("qc") + adcR) / (col("qnrm") * col("pqr_rnrm")))
    val cands = perQueryTopK(scored, col("cos_adc"), candK)
      .select(col("query_id"), col("vec_id"))
    val reranked = codes
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("fv"))
      .join(broadcast(cands), "vec_id")
      .withColumn("fnrm", sqrt(ddot(col("fv"), col("fv"))))
      .join(broadcast(queries.select("query_id", "qv", "qnrm")), "query_id")
      .withColumn("cos_full", ddot(col("qv"), col("fv")) / (col("qnrm") * col("fnrm")))
    perQueryTopK(reranked, col("cos_full"), k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("score"), 4).as("cos"))
  }

  /** S14: the residual-encoded IVFADC serve. Rows-only (both quantizers
    * are trained); the ⊕ companion re-derives the two-stage pipeline
    * through the full-reconstruction identity. */
  private val s14Served = rowsOnly("s14_ann_served_ivfadc") { (s, dir) =>
    ivfPqrServedTopK(s, servedIndexFor(s, dir), s10Queries(s, dir), S3Nprobe, TopK)
  }

  /** S14's ORACLE-CHECKED companion — the residual pipeline re-derived
    * through a deliberately different operator tree over the SAME
    * artifact:
    *   - candidates re-scored via the FULL reconstruction
    *     x̂ = centroid(cell) + flatten(residual codebook rows), i.e.
    *     ⟨q, x̂⟩ as ONE end-to-end dot (vs the serve's coarse-scalar +
    *     per-subspace LUT decomposition — the ADC identity), and
    *     window-ranked instead of bounded-aggregate top-k'd;
    *   - the stored `pqr_rnrm` must equal ‖x̂‖ row-for-row (the encode's
    *     norm contract) — violations are counted, not assumed;
    *   - final answer re-derived as the window-ranked full-precision
    *     top-k of that candidate set; results ⊆ probed-cell members. */
  private val s14Invariants = withOracle("s14_served_ivfadc_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS results_subset_of_probed_cells,
       |       TRUE AS stored_norm_equals_reconstruction,
       |       TRUE AS pipeline_equals_window_rederivation
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val idx = servedIndexFor(s, dir)
    val cents = graft.ext.AnnIndex.readCentroids(s, idx)
    val queries0 = s10Queries(s, dir)
    val probes = probeSet(queries0.collect(), cents, S3Nprobe)
    import s.implicits._
    val probeDf = probes.toDF("query_id", "cell")
    val centsDf = broadcast(cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cv"))
    val cb = graft.ext.AnnIndex.readPqrCodebooks(s, idx)
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val rhat = flatten(transform(seqM, m =>
      element_at(element_at(cbLit, m + 1), element_at(col("pqr_codes"), m + 1) + 1)))
    val xhat = zip_with(col("cv"), rhat, _ + _)
    val codes = graft.ext.AnnIndex.readCodes(s, idx)
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"))
    val members = codes
      .join(broadcast(probeDf), Seq("cell"))
      .join(centsDf, Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
      .withColumn("xhat", xhat)
    // encode contract: the stored norm IS the reconstruction norm
    val badNorm = members
      .select(col("pqr_rnrm"), sqrt(ddot(col("xhat"), col("xhat"))).as("rn"))
      .where(abs(col("pqr_rnrm") - col("rn")) > lit(1e-9) * (col("pqr_rnrm") + 1))
      .agg(count(lit(1)).as("n_bad_norm"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("cos_recon").desc, col("vec_id").asc)
    val candsW = members
      .withColumn("cos_recon",
        ddot(col("qv"), col("xhat")) / (col("qnrm") * col("pqr_rnrm")))
      .where(col("cos_recon").isNotNull && !isnan(col("cos_recon")))
      // candidate depth = the serve's default candMult (20): the
      // re-derivation must walk the identical pipeline
      .withColumn("rn", row_number().over(wAdc)).where(col("rn") <= TopK * 20)
      .select(col("query_id"), col("vec_id"))
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = candsW
      .join(codes.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("fv")), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos_full",
        ddot(col("qv"), col("fv")) / (col("qnrm") * sqrt(ddot(col("fv"), col("fv")))))
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(wFull)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val got = s14Served.fn(s, dir)
    val disagree = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(
        members.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(outside)).crossJoin(broadcast(disagree))
      .crossJoin(broadcast(badNorm))
      .select(col("n_queries"),
        (col("n_outside") === 0).as("results_subset_of_probed_cells"),
        (col("n_bad_norm") === 0).as("stored_norm_equals_reconstruction"),
        (col("n_disagree") === 0).as("pipeline_equals_window_rederivation"))
  }

  /** S13's ORACLE-CHECKED companion — both stages re-derived through
    * deliberately different operator trees over the SAME artifact:
    *   - the ADC candidate stage re-scored via the RECONSTRUCTION dot
    *     (⟨q, x̂⟩ with x̂ = flatten of per-subspace codebook rows — the
    *     ADC identity s8's companion pins) and window-ranked instead of
    *     the bounded-aggregate top-k;
    *   - the final answer re-derived as the window-ranked full-precision
    *     cosine top-k of that candidate set;
    *   - results ⊆ probed-cell members (the IVF pruning contract).
    * Reduced to DuckDB-derivable values over `embeddings`. */
  private val s13Invariants = withOracle("s13_served_ivfpq_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS results_subset_of_probed_cells,
       |       TRUE AS pipeline_equals_window_rederivation
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val idx = servedIndexFor(s, dir)
    val cents = graft.ext.AnnIndex.readCentroids(s, idx)
    val queries0 = s10Queries(s, dir)
    val probes = probeSet(queries0.collect(), cents, S3Nprobe)
    import s.implicits._
    val probeDf = probes.toDF("query_id", "cell")
    val cb = graft.ext.AnnIndex.readPqCodebooks(s, idx)
    val sub = cb(0)(0).length
    val cbLit = array(cb.map(mk =>
      array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
    val seqM = sequence(lit(0), lit(PqM - 1))
    val recon = flatten(transform(seqM, m =>
      element_at(element_at(cbLit, m + 1), element_at(col("pq_codes"), m + 1) + 1)))
    val codes = graft.ext.AnnIndex.readCodes(s, idx)
    val queries = queries0
      .select(col("query_id"), transform(col("qv"), _.cast("double")).as("qv"))
      .select(col("query_id"), col("qv"), sqrt(ddot(col("qv"), col("qv"))).as("qnrm"))
    // probed-cell members scored through the reconstruction identity
    val members = codes
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(queries), Seq("query_id"))
      .where(col("query_id") =!= col("vec_id"))
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("cos_recon").desc, col("vec_id").asc)
    val candsW = members
      .withColumn("cos_recon",
        ddot(col("qv"), recon) / (col("qnrm") * col("pq_rnrm")))
      .where(col("cos_recon").isNotNull && !isnan(col("cos_recon")))
      .withColumn("rn", row_number().over(wAdc)).where(col("rn") <= TopK * 5)
      .select(col("query_id"), col("vec_id"))
    val wFull = Window.partitionBy("query_id")
      .orderBy(col("cos_full").desc, col("vec_id").asc)
    val want = candsW
      .join(codes.select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("fv")), "vec_id")
      .join(broadcast(queries), "query_id")
      .withColumn("cos_full",
        ddot(col("qv"), col("fv")) / (col("qnrm") * sqrt(ddot(col("fv"), col("fv")))))
      .where(col("cos_full").isNotNull && !isnan(col("cos_full")))
      .withColumn("rn", row_number().over(wFull)).where(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_full"), 4).as("cos_w"))
    val got = s13Served.fn(s, dir)
    val disagree = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val outside = got.join(
        members.select(col("query_id"), col("vec_id").as("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_anti")
      .agg(count(lit(1)).as("n_outside"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(outside)).crossJoin(broadcast(disagree))
      .select(col("n_queries"),
        (col("n_outside") === 0).as("results_subset_of_probed_cells"),
        (col("n_disagree") === 0).as("pipeline_equals_window_rederivation"))
  }

  /** Build-once artifact cache keyed by corpus dir: the index build is a
    * write-side one-off (s3's bench-excluded training category), so gate
    * and bench calls after the first measure pure SERVING — which is the
    * point of the artifact. Process-scoped temp dirs. */
  private val indexCache = scala.collection.mutable.Map.empty[String, String]
  private[graft] def servedIndexFor(s: SparkSession, dir: String): String =
    indexCache.synchronized {
      indexCache.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft_ann_index_")
          .toString + "/index"
        graft.ext.AnnIndex.write(s, Tables(s, dir, "embeddings"), p, S3Nlist)
        p
      })
    }

  private def s10Queries(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .where(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** S10: the artifact-SERVED IVF query — s3's request answered from the
    * persisted index instead of an inline-trained one. KMeans training
    * (now at build time) is still not ANSI-expressible → rows-only; the
    * ⊕ companion below proves served ≡ inline hash-exactly. */
  private val s10Served = rowsOnly("s10_ann_served") { (s, dir) =>
    ivfServedTopK(s, servedIndexFor(s, dir), s10Queries(s, dir), S3Nprobe, TopK)
  }

  /** S10's ORACLE-CHECKED companion: the artifact round-trip changes no
    * answer — the served result set equals the inline s3 result pair-for-
    * pair, score-for-score (same seeded training → same centroids → same
    * probe sets by [[probeSet]] sharing → same candidates → same ranked
    * top-k; floats round-trip parquet exactly), and the artifact reports
    * committed. Reduced to DuckDB-derivable values over `embeddings`. */
  private val s10Invariants = withOracle("s10_served_invariants",
    s"""SELECT CAST(least(count(*), $NQueries) AS BIGINT) AS n_queries,
       |       TRUE AS artifact_committed,
       |       TRUE AS served_equals_inline
       |FROM embeddings WHERE vec_id < $NQueries""".stripMargin) { (s, dir) =>
    val idx = servedIndexFor(s, dir)
    val ok = graft.ext.AnnIndex.committed(s, idx)
    val got = s10Served.fn(s, dir)
    val want = s3Ivf.fn(s, dir).withColumnRenamed("cos", "cos_w")
    val disagree = got.join(want, Seq("query_id", "neighbor_id"), "full_outer")
      .where(col("cos").isNull || col("cos_w").isNull || col("cos") =!= col("cos_w"))
      .agg(count(lit(1)).as("n_disagree"))
    got.agg(countDistinct(col("query_id")).as("n_queries"))
      .crossJoin(broadcast(disagree))
      .select(col("n_queries"), lit(ok).as("artifact_committed"),
        (col("n_disagree") === 0).as("served_equals_inline"))
  }

  val all: Seq[QueryDef] =
    Seq(s1Brute, s2Lsh, s2Invariants, s3Ivf, s3Invariants, s4Quantize, s5Centroid,
      s6Quantized, s6Invariants, s7IvfAssign, s7Invariants, s8AnnPq, s8Invariants,
      s9Mining, s10Served, s10Invariants, s11Served, s11Invariants,
      s12Served, s12Invariants, s13Served, s13Invariants,
      s14Served, s14Invariants)
}
