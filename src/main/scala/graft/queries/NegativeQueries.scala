package graft.queries

import graft.ext.TextAnalysis._
import graft.ext.extfunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contrastive training-pair mining — the dataset-construction side of
  * training a retriever/embedding model on this corpus (BM25-mined hard
  * negatives, Karpukhin et al. 2020 "Dense Passage Retrieval" §3.2; the
  * (anchor, positive, negative) triplet assembly every contrastive loss
  * consumes): pick anchor documents, mine each anchor's query-term
  * representation, retrieve top-ranked docs by BM25 that are NOT
  * near-duplicates of the anchor — lexically close but semantically
  * distinct, exactly the negatives that make contrastive training hard —
  * and pair them with positives from the dedup clusters.
  *
  * Scale shapes:
  *  - Anchor selection rides bm1's map-only scoring (hn1/hn2) or the
  *    dedup keeper election over LSH-banded pairs (hn3) — both existing
  *    scale paths.
  *  - Term mining explodes ONLY the anchor docs' words (broadcast
  *    semi-prune, the PRF shape); the per-anchor cut is a window over a
  *    frame bounded by |anchors|·|anchor vocab|. The mined term sets pass
  *    through the driver (≤ anchors·m rows — query compile-time state,
  *    the PRF/IVF-centroid bounded-model shape).
  *  - ALL anchors score in ONE corpus pass: the union term set's tf
  *    columns are map-only array ops inside whole-stage codegen, corpus
  *    statistics are one bounded aggregate broadcast back, and each
  *    anchor's score is a projection over its own sorted term subset —
  *    |anchors| unions of the SAME localCheckpointed frequency frame, so
  *    the text is tokenized once no matter how many anchors ride the
  *    pass (the §2.7 multi-query-batch principle).
  *  - Near-dup exclusion (hn2) is map-side: the anchors' shingle sets
  *    attach by broadcast and the Jaccard test runs inside the scan —
  *    no pair shuffle. Cluster exclusion (hn3) is ONE doc_id-keyed join
  *    against the keeper list (AQE/bucketing territory at 100 TB).
  *  - Per-anchor top-n is the bottom_k aggregate (partial heaps, k rows
  *    per task per anchor to one exchange) — NOT a row_number window,
  *    which would funnel the corpus through |anchors| tasks.
  *
  * FP determinism vs the oracle: per-anchor contributions sum in SORTED
  * term order on both engines (Spark folds the anchor's sorted terms left
  * to right; the oracle pins `list_sum(list(c ORDER BY term))`), each
  * contribution is the bm1 score expression term for term, and a tf=0
  * term contributes an exact `+0.0`. Anchor/term/rank SELECTION is
  * integer-and-tie-break arithmetic riding hash-proven orderings (bm1's
  * score for hn2's anchors, the keeper election for hn3's).
  */
object NegativeQueries {

  import QueryDef._

  private val NumAnchors = 3
  private val TermsPerAnchor = 5
  private val NegativesPerAnchor = 10
  private val NumClusters = 2
  private val TripletNegatives = 5

  /** Per-anchor top-m query terms: the anchor doc's m most frequent
    * tokens (tf desc, term asc; empty token excluded) — the "what would
    * retrieve this doc" query representation (doc2query's statistical
    * core). Only anchor docs explode; the window ranks a frame bounded by
    * |anchors| · |anchor vocab|. */
  def anchorTerms(docs: DataFrame, anchors: DataFrame, m: Int): DataFrame = {
    val w = Window.partitionBy("anchor_id").orderBy(col("tf").desc, col("term"))
    docs.join(broadcast(anchors), docs("doc_id") === anchors("anchor_id"))
      .select(col("anchor_id"), explode(words(col("text"))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("anchor_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= m)
      .drop("rn")
  }

  /** The bounded driver-side anchor model (r17, guide §1.2/§5): per
    * anchor — its top-m (term, tf) mined terms (tf desc, term asc; empty
    * excluded — [[anchorTerms]]' exact cut) and its distinct bigram
    * shingle set. The anchors are ≤[[NumAnchors]] DOCUMENTS, i.e. query
    * compile-time state, so instead of a corpus-scan → broadcast-join →
    * explode → groupBy → window pass per derivation (hn2 ran TWO of
    * them: term mining + the separate shingle frame), ONE id-pushdown
    * scan (`doc_id isin` reaches the parquet scan as PushedFilters)
    * fetches the anchor rows and the counting/cut runs driver-side over
    * ≤|anchors| word arrays — the same bounded-model shape as the PRF
    * expansion set and the IVF centroids. Tokens/shingles are computed
    * by the SAME Spark expressions (words/shingles), so values are
    * bit-identical to the distributed form. */
  private def anchorModel(docs: DataFrame, anchorIds: Seq[Long],
      m: Int): Seq[(Long, Seq[(String, Long)], Seq[String])] =
    docs.where(col("doc_id").isin(anchorIds.map(Long.box): _*))
      .select(col("doc_id"), words(col("text")).as("ws"),
        shingles(words(col("text")), 2).as("sh"))
      .collect()
      .map { r =>
        val top = r.getSeq[String](1).filter(_.nonEmpty)
          .groupBy(identity).view.mapValues(_.size.toLong).toSeq
          .sortBy { case (t, tf) => (-tf, t) }.take(m)
        (r.getLong(0), top, r.getSeq[String](2))
      }.toSeq.sortBy(_._1)

  /** Every (anchor, doc) BM25 score in ONE corpus pass — see object doc.
    * Output (anchor_id, doc_id, s[, jac]); `exclShingles` (hn2) carries
    * each anchor's driver-side shingle set, and the doc-vs-anchor bigram
    * Jaccard is computed per anchor INSIDE the tokenize pass against the
    * broadcast-literal set — the checkpoint then materializes one DOUBLE
    * per (doc, anchor) instead of the doc's whole shingle array (r17:
    * the shingle-array checkpoint was the pass's dominant materialization;
    * the per-pair Jaccard count is unchanged, it just runs before the
    * checkpoint instead of after the explode). hn3 excludes by cluster
    * membership instead and skips the columns entirely. */
  private def scoreByAnchors(docs: DataFrame,
      termsByAnchor: Seq[(Long, Seq[String])],
      exclShingles: Option[Seq[(Long, Seq[String])]]): DataFrame = {
    // no anchor with mined terms: no scored rows, in the output schema (an
    // explode over zero branches would fail at plan construction)
    if (termsByAnchor.isEmpty)
      return docs.select(Seq(lit(0L).as("anchor_id"), col("doc_id"), lit(0.0).as("s")) ++
        exclShingles.map(_ => lit(0.0).as("jac")): _*).limit(0)
    val union = termsByAnchor.flatMap(_._2).distinct.sorted
    val idx = union.zipWithIndex.toMap
    val base: Seq[Column] =
      col("doc_id") +: size(col("ws")).cast("double").as("dl") +:
        union.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), x => x === t)).cast("double").as(s"tf$i")
        }
    val jacCols = exclShingles.toSeq.flatten.zipWithIndex.map { case ((_, sh), i) =>
      jaccard_sim(shingles(col("ws"), 2), typedlit(sh)).as(s"jac$i")
    }
    // one tokenize pass feeds stats AND scoring (bm1's checkpoint shape)
    val tf = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(base ++ jacCols: _*)
      .localCheckpoint(false)
    val dfAggs = avg(col("dl")).as("avgdl") +:
      union.indices.map(i => sum((col(s"tf$i") > 0).cast("double")).as(s"df$i"))
    val st = tf.agg(count(lit(1)).cast("double").as("n"), dfAggs: _*)
    val joined = tf.join(broadcast(st))
    def contrib(i: Int): Column = {
      val tfc = col(s"tf$i"); val dfc = col(s"df$i")
      log(lit(1) + (col("n") - dfc + lit(0.5)) / (dfc + lit(0.5))) *
        (tfc * lit(2.2)) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }
    // ONE scan for every anchor: a generate emitting |anchors| scored
    // rows per doc beats |anchors| union branches each re-scanning the
    // checkpointed frame (measured 2x at 6 anchors x 4M docs pre-rewrite)
    val jacIdx = exclShingles.toSeq.flatten.map(_._1).zipWithIndex.toMap
    val branches = termsByAnchor.map { case (a, ts) =>
      val fields = Seq(lit(a).as("anchor_id"),
        ts.sorted.map(t => contrib(idx(t))).reduce(_ + _).as("s")) ++
        (if (exclShingles.isDefined) Seq(col(s"jac${jacIdx(a)}").as("jac")) else Nil)
      struct(fields: _*)
    }
    val out = Seq(col("a.anchor_id").as("anchor_id"), col("doc_id"),
      col("a.s").as("s")) ++
      (if (exclShingles.isDefined) Seq(col("a.jac").as("jac")) else Nil)
    joined
      .select(col("doc_id"), explode(array(branches: _*)).as("a"))
      .select(out: _*)
  }

  /** Exact per-anchor top-n by (s desc, doc_id asc) via the bottom_k
    * heap aggregate (no per-anchor window funnel); emits neg_rank 1..n
    * and the 4-decimal score. */
  private def topPerAnchor(elig: DataFrame, n: Int): DataFrame =
    elig.groupBy(col("anchor_id"))
      .agg(bottom_k(struct((-col("s")).as("ns"), col("doc_id").as("id")), n).as("top"))
      .select(col("anchor_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("anchor_id"), col("t.id").as("neg_id"),
        (col("p") + 1).cast("long").as("neg_rank"),
        round(-col("t.ns"), 4).as("bm25"))

  /** BM25-selected anchors (top-`a` for the fixed retrieval query —
    * "known relevant" seeds, riding bm1's hash-proven ranking). */
  private def bm25Anchors(docs: DataFrame, a: Int): DataFrame =
    RetrievalQueries.bm25ScoredDocs(docs, RetrievalQueries.Bm25Terms)
      .orderBy(col("s").desc, col("doc_id"))
      .limit(a)
      .select(col("doc_id").as("anchor_id"))

  /** Hard negatives for `anchors`: every doc scored against each anchor's
    * mined terms, the anchor itself and its near-duplicates (bigram
    * Jaccard ≥ [[DedupQueries.JaccardThreshold]] — false negatives for a
    * contrastive loss) excluded, per-anchor top-n emitted with rank and
    * score. */
  def hardNegatives(docs: DataFrame, anchors: DataFrame, m: Int,
      n: Int): DataFrame = {
    // r17: anchor ids pass through the driver (≤NumAnchors longs), the
    // model comes from ONE id-pushdown anchor fetch instead of two
    // corpus-scan derivations (term mining + the shingle frame), and the
    // near-dup exclusion test rides the scoring pass's own checkpoint as
    // a per-anchor double (see scoreByAnchors) — the separate ash join
    // is gone. Values identical: same expressions, same cut, same test.
    val ids = anchors.collect().map(_.getLong(0)).toSeq
    // r18 (ADVICE): drop anchors that mined ZERO non-empty terms
    // (empty/whitespace docs) — the old anchorTerms path produced no rows
    // for them (term <> '' filter), so they contributed no scored rows;
    // an empty term list here would make scoreByAnchors' per-anchor
    // reduce(_ + _) throw at plan construction instead.
    val model = anchorModel(docs, ids, m).filter(_._2.nonEmpty)
    val scored = scoreByAnchors(docs,
      model.map { case (a, ts, _) => (a, ts.map(_._1)) },
      exclShingles = Some(model.map { case (a, _, sh) => (a, sh) }))
    val elig = scored
      .where(col("s") > 0 && col("doc_id") =!= col("anchor_id") &&
        col("jac") < lit(DedupQueries.JaccardThreshold))
    topPerAnchor(elig, n)
  }

  /** Full contrastive triplets: anchors are the keepers of the `c`
    * largest dedup clusters (size ≥ 2), positives their fellow cluster
    * members (genuine paraphrase pairs — what near-dup clusters ARE),
    * negatives mined per anchor with the whole cluster excluded. One
    * (anchor, pos, neg) row per positive × negative. */
  def trainingTriplets(docs: DataFrame, keepers: DataFrame, c: Int, m: Int,
      n: Int): DataFrame = {
    // r17: anchor ids collected once (≤c longs — they were already
    // driver-bound via the term model), the pos slice filters keepers by
    // the literal id set instead of a join, and the mined model comes
    // from one id-pushdown anchor fetch (see anchorModel) instead of a
    // corpus-scan window pass.
    val anchorIds = keepers.groupBy(col("keep_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .where(col("cluster_size") >= 2)
      .orderBy(col("cluster_size").desc, col("keep_id"))
      .limit(c)
      .select(col("keep_id"))
      .collect().map(_.getLong(0)).toSeq
    val pos = keepers
      .where(col("keep_id").isin(anchorIds.map(Long.box): _*) &&
        col("doc_id") =!= col("keep_id"))
      .select(col("keep_id").as("anchor_id"), col("doc_id").as("pos_id"))
    // empty-term anchors drop here for the same reason as hardNegatives:
    // no mined terms -> no scored rows (anchorTerms' semantics), not a
    // plan-construction crash. Their pos rows then inner-join to nothing,
    // exactly as when ascore has no rows for that anchor.
    val model = anchorModel(docs, anchorIds, m).filter(_._2.nonEmpty)
    val scored = scoreByAnchors(docs,
      model.map { case (a, ts, _) => (a, ts.map(_._1)) }, exclShingles = None)
    val elig = scored.join(keepers, "doc_id")
      .where(col("s") > 0 && col("keep_id") =!= col("anchor_id"))
    val neg = topPerAnchor(elig, n).drop("bm25")
    pos.join(broadcast(neg), Seq("anchor_id"))
      .select(col("anchor_id"), col("pos_id"), col("neg_id"), col("neg_rank"))
  }

  // ---------------------------------------------------------------- oracles

  /** anch/aw/atc/at CTEs — anchor term mining over tokenization CTE
    * `tok`, anchors from CTE `anchSrc(anchor_id)`. */
  private def miningCtes(tok: String): String =
    s"""aw AS (SELECT a.anchor_id, unnest(dd.ws) AS term
       |       FROM $tok dd JOIN anch a ON dd.doc_id = a.anchor_id),
       |atc AS (SELECT anchor_id, term, CAST(count(*) AS BIGINT) AS tf
       |        FROM aw WHERE term <> '' GROUP BY 1, 2),
       |at AS (SELECT anchor_id, term, tf FROM (
       |    SELECT anchor_id, term, tf,
       |           row_number() OVER (PARTITION BY anchor_id ORDER BY tf DESC, term) AS rn
       |    FROM atc)
       |  WHERE rn <= $TermsPerAnchor)""".stripMargin

  /** ut/tf2/st2/g/contrib/ascore CTEs — the generic (doc × anchor-term)
    * scoring form (prf2's round-2 shape) over tokenization CTE `tok`,
    * per-(anchor, doc) sums in pinned term order. */
  private def scoringCtes(tok: String): String =
    s"""ut AS (SELECT DISTINCT term FROM at),
       |tf2 AS (SELECT dd.doc_id, ut.term,
       |          CAST(len(list_filter(dd.ws, x -> x = ut.term)) AS DOUBLE) AS tfv,
       |          CAST(len(dd.ws) AS DOUBLE) AS dl
       |        FROM $tok dd CROSS JOIN ut),
       |st2 AS (SELECT term, CAST(sum(CASE WHEN tfv>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df
       |        FROM tf2 GROUP BY term),
       |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |             avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM $tok),
       |contrib AS (SELECT t.doc_id, t.term,
       |    ln(1+(g.n-s2.df+0.5)/(s2.df+0.5)) * (t.tfv*2.2)/(t.tfv + 1.2*(0.25 + 0.75*t.dl/g.avgdl)) AS c
       |  FROM tf2 t, st2 s2, g WHERE t.term = s2.term),
       |ascore AS (SELECT a.anchor_id, c.doc_id, list_sum(list(c.c ORDER BY c.term)) AS s
       |  FROM at a JOIN contrib c ON a.term = c.term
       |  GROUP BY a.anchor_id, c.doc_id)""".stripMargin

  /** BM25-top-`NumAnchors` anchors from bm1's score CTE chain. */
  private def bm25AnchorCte: String =
    s"""anch AS (SELECT doc_id AS anchor_id FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
       |  WHERE rn <= $NumAnchors)""".stripMargin

  /** hn1: the mined per-anchor query terms — integer counts, exact
    * oracle; the anchor cut rides bm1's hash-proven score agreement. */
  private val hn1 = withOracle("hn1_anchor_terms",
    s"""WITH ${RetrievalQueries.bm25ScoreCtes},
       |$bm25AnchorCte,
       |${miningCtes("d")}
       |SELECT anchor_id, term, tf FROM at""".stripMargin) { (s, dir) =>
    // r17: the mined model IS the output here (≤ anchors·m rows), so it
    // comes straight from the bounded driver-side derivation — one
    // id-pushdown fetch instead of the corpus-scan window pass; the
    // distributed [[anchorTerms]] form stays for anchor sets too large
    // to model driver-side.
    val docs = Tables(s, dir, "documents")
    val ids = bm25Anchors(docs, NumAnchors).collect().map(_.getLong(0)).toSeq
    import s.implicits._
    anchorModel(docs, ids, TermsPerAnchor)
      .flatMap { case (a, ts, _) => ts.map { case (t, tf) => (a, t, tf) } }
      .toDF("anchor_id", "term", "tf")
  }

  /** hn2: DPR-style hard negatives — per-anchor BM25 top-n with the
    * anchor and its near-duplicates excluded, hash-checked end to end
    * (ranks, ids, and 4-decimal scores). */
  private val hn2 = withOracle("hn2_hard_negatives",
    s"""WITH ${RetrievalQueries.bm25ScoreCtes},
       |$bm25AnchorCte,
       |${miningCtes("d")},
       |${scoringCtes("d")},
       |shg AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(ws), 1)),
       |          i -> ws[i] || ' ' || ws[i+1])) AS sh FROM d),
       |ex AS (SELECT a.anchor_id, sd.doc_id,
       |    CASE WHEN len(sa.sh) = 0 OR len(sd.sh) = 0 THEN 0.0
       |         ELSE CAST(len(list_intersect(sa.sh, sd.sh)) AS DOUBLE)
       |              / len(list_distinct(sa.sh || sd.sh)) END AS jac
       |  FROM anch a JOIN shg sa ON sa.doc_id = a.anchor_id, shg sd),
       |elig AS (SELECT a2.anchor_id, a2.doc_id, a2.s FROM ascore a2
       |  JOIN ex ON ex.anchor_id = a2.anchor_id AND ex.doc_id = a2.doc_id
       |  WHERE a2.s > 0 AND a2.doc_id <> a2.anchor_id
       |    AND ex.jac < ${DedupQueries.JaccardThreshold}),
       |r AS (SELECT anchor_id, doc_id, s,
       |        row_number() OVER (PARTITION BY anchor_id ORDER BY s DESC, doc_id) AS rnk
       |      FROM elig)
       |SELECT anchor_id, doc_id AS neg_id, CAST(rnk AS BIGINT) AS neg_rank,
       |       round(s, 4) AS bm25
       |FROM r WHERE rnk <= $NegativesPerAnchor""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    hardNegatives(docs, bm25Anchors(docs, NumAnchors), TermsPerAnchor,
      NegativesPerAnchor)
  }

  /** hn3: (anchor, positive, negative) triplets. The gate's keeper list
    * comes from the LSH-banded pair path (d2's scale shape) while the
    * oracle re-derives it from the exact transitive closure — hash
    * equality rides the same full-recall property d2's gate proves every
    * run. Tokenization CTE is `dw` (keepListCtes already owns the name
    * `d` for the shingle frame). */
  private val hn3 = withOracle("hn3_training_triplets",
    s"""${DedupQueries.keepListCtes},
       |cs AS (SELECT keep_id, CAST(count(*) AS BIGINT) AS cluster_size FROM k GROUP BY keep_id),
       |anch AS (SELECT keep_id AS anchor_id FROM (
       |    SELECT keep_id, cluster_size, row_number() OVER (ORDER BY cluster_size DESC, keep_id) AS rn
       |    FROM cs WHERE cluster_size >= 2) WHERE rn <= $NumClusters),
       |pos AS (SELECT kk.keep_id AS anchor_id, kk.doc_id AS pos_id
       |        FROM k kk JOIN anch ON kk.keep_id = anch.anchor_id
       |        WHERE kk.doc_id <> kk.keep_id),
       |dw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |${miningCtes("dw")},
       |${scoringCtes("dw")},
       |elig AS (SELECT a2.anchor_id, a2.doc_id, a2.s FROM ascore a2
       |  JOIN k kk ON kk.doc_id = a2.doc_id
       |  WHERE a2.s > 0 AND kk.keep_id <> a2.anchor_id),
       |r AS (SELECT anchor_id, doc_id, s,
       |        row_number() OVER (PARTITION BY anchor_id ORDER BY s DESC, doc_id) AS rnk
       |      FROM elig),
       |neg AS (SELECT anchor_id, doc_id AS neg_id, CAST(rnk AS BIGINT) AS neg_rank
       |        FROM r WHERE rnk <= $TripletNegatives)
       |SELECT p.anchor_id, p.pos_id, n2.neg_id, n2.neg_rank
       |FROM pos p JOIN neg n2 USING (anchor_id)""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // r17: keepers feeds three consumers in trainingTriplets (anchor cut,
    // pos slice, eligibility join) — checkpoint the doc-sized (doc_id,
    // keep_id) frame once instead of re-running the docs⋈comp tail per
    // consumer.
    val keepers = DedupQueries.keepList(DedupQueries.minhashPairs(s, dir), docs)
      .localCheckpoint(false)
    trainingTriplets(docs, keepers, NumClusters, TermsPerAnchor,
      TripletNegatives)
  }

  val all: Seq[QueryDef] = Seq(hn1, hn2, hn3)
}
