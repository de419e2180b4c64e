package graft.queries

import graft.ext.TextAnalysis._
import graft.ext.extfunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operator inventory over `documents` / `embeddings`.
  *
  * Scale design: the quadratic exact-Jaccard pass (d3) is the correctness
  * baseline; MinHash+LSH (d2) and SimHash bucketing (d4) are the 100 TB
  * paths — candidate generation is a band-bucket shuffle join (linear in
  * corpus size for bounded bucket sizes), with exact verification only on
  * candidates.
  */
object DedupQueries {

  import QueryDef._

  val JaccardThreshold = 0.8
  val MinhashK = 64
  val Bands = 16 // x 4 rows per band: P(candidate | j) = 1-(1-j^4)^16
  // j=0.8 -> recall 0.9998; j=0.2 (the bulk of random pairs) -> 2.6% —
  // candidate volume stays linear-ish instead of quadratic
  //
  // GATE RECALL PRECONDITION (d2 is hash-checked against the EXACT
  // Jaccard oracle): that upgrade is only valid while LSH recall at the
  // threshold is effectively 1 on the gate corpus — which (16, 4) banding
  // at j >= 0.8 gives (miss prob <= 2e-4/pair; zero misses verified on the
  // sf fixtures, full-recall property pinned in ExtSpec). If a future
  // change touches JaccardThreshold / MinhashK / Bands / the fixture and
  // d2 starts hash-mismatching with rows SLIGHTLY UNDER the oracle's,
  // diagnose RECALL LOSS (re-derive 1-(1-j^r)^b at the new parameters)
  // before hunting a correctness bug.

  /** doc_id + distinct word-bigram shingle set. The words array is
    * materialized in its own projection first (see shingles() scaladoc). */
  private def docShingles(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), shingles(col("ws"), 2).as("sh"))

  /** D1 exact dedup: content-hash groups, keeper = min doc_id. */
  private val d1Exact = withOracle("d1_dedup_exact",
    """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** The exact-Jaccard pair SQL — d3's oracle, and since r10 ALSO d2's:
    * the LSH path exact-verifies every candidate, so its output columns
    * and values are identical to the quadratic baseline whenever recall
    * is full, which the banding parameters guarantee on this corpus
    * (zero-miss at j ≥ threshold; previously only the ExtSpec property
    * asserted it — now every gate run hash-checks it too). */
  private val exactJaccardSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)),
       |           i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
       |                string_split_regex(lower(trim(text)), '\\s+')[i+1])) AS sh
       |  FROM documents)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(cast(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |             / len(list_distinct(a.sh || b.sh)), 4) AS jac
       |FROM d a JOIN d b ON a.doc_id < b.doc_id
       |WHERE cast(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / len(list_distinct(a.sh || b.sh)) >= $JaccardThreshold""".stripMargin

  /** D3 exact n-gram Jaccard near-dup pairs — the quadratic baseline
    * (broadcast self-join; only viable at small corpus sizes). */
  private val d3Jaccard = withOracle("d3_ngram_jaccard", exactJaccardSql) { (s, dir) =>
    val d = docShingles(s, dir)
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val jac = jaccard_sim(col("sh_a"), col("sh_b"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .where(jac >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jac"))
  }

  /** D2 MinHash+LSH near-dup pairs — the scale path. Signature is one
    * custom-expression pass; banding explodes to (band, band_hash) keys;
    * same-bucket pairs are exact-verified — so the gate now hash-checks
    * it against [[exactJaccardSql]] (upgraded from rows-only in r10; the
    * full-recall property that makes the shared oracle valid stays
    * independently pinned in ExtSpec). */
  private val d2Minhash = withOracle("d2_dedup_minhash_lsh", exactJaccardSql) { (s, dir) =>
    minhashPairs(s, dir)
  }

  /** Buckets larger than this are routed OUT of pair generation: a bucket of
    * n ids is an O(n²) pair explosion inside one task, and a degenerate
    * bucket (mass-duplicated boilerplate on a 100 TB corpus) would OOM it.
    * Members of an oversized bucket collide on a full MinHash band — they are
    * (near-)identical families that d1's exact content-hash pass already
    * groups in linear time; `oversizedLshBuckets` reports them for audit. */
  val MaxLshBucket = 1000

  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir, MaxLshBucket)

  /** One row per doc with shingle set + MinHash signature, persisted: it
    * feeds banding and both verification joins — without it the
    * shingle+minhash pass runs 4x. At 100 TB this is a materialized
    * signature table; here the cache plays that role (tiny: one row/doc).
    * Memoized per (session, dir) with a TTL — repeated dedup runs in a
    * long-lived serving session reuse ONE persisted frame instead of
    * stacking a fresh copy in executor storage per call; a rewritten
    * corpus is picked up within one TTL or immediately via
    * [[invalidateSignatures]]; a restarted session never sees frames bound
    * to a stopped one (same freshness contract as the store's series
    * index, ParquetStore.seriesIndex). */
  val SignatureTtlMs = 300000L

  private val signatureCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)]()

  /** One monitor guards every mutation of every memoized corpus-frame
    * cache (signature table AND d8's bench n-gram set). Build and
    * invalidation racing on different monitors could let a build that read
    * pre-invalidation table state insert AFTER Tables.invalidate ran,
    * serving stale data until the TTL — a single lock makes
    * invalidate-then-rebuild linearizable. */
  private val cacheLock = new Object

  /** Registry of every memoized corpus-frame cache (this object's two
    * plus any registered by other query families, e.g. cur2's kept-mix
    * frame) — [[invalidateSignatures]] sweeps them uniformly so a corpus
    * rewrite can't serve any stale persisted frame. */
  private val corpusFrameCaches = scala.collection.mutable.ArrayBuffer[
    java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)]]()

  private[graft] def registerCorpusCache(
      c: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)])
      : Unit = cacheLock.synchronized { corpusFrameCaches += c }

  /** TTL-memoized persisted frame per (session, dir) — the shared
    * lifecycle for every corpus-derived table that multiple jobs in one
    * operator (or repeated runs in a serving session) would otherwise
    * recompute: one persisted copy, refreshed after the TTL, never bound
    * to a stopped session. */
  private[graft] def memoizedPersisted(
      cache: java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)],
      s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val key = (s, dir)
    val hit = cache.get(key)
    if (hit != null && System.currentTimeMillis() - hit._2 < SignatureTtlMs) hit._1
    else cacheLock.synchronized {
      val again = cache.get(key)
      if (again != null && System.currentTimeMillis() - again._2 < SignatureTtlMs) again._1
      else {
        if (again != null) again._1.unpersist(blocking = false)
        // drop entries whose session has been stopped — their persisted
        // frames are unusable and would pin the map forever
        cache.entrySet().removeIf(e => e.getKey._1.sparkContext.isStopped)
        val df = build.persist()
        cache.put(key, (df, System.currentTimeMillis()))
        df
      }
    }
  }

  private def signatureTable(s: SparkSession, dir: String): DataFrame =
    memoizedPersisted(signatureCache, s, dir) {
      docShingles(s, dir).withColumn("sig", minhash_signature(col("sh"), MinhashK))
    }

  /** Test hooks: the live memoized frame for the entry a suite OWNS.
    * Memoization asserts must pin THESE (instance identity, the frame's
    * own `storageLevel`), never the global `getPersistentRDDs.size` —
    * 13 suites share one SparkContext in parallel and the TTL evicts,
    * so the global count is mutated by code the asserting test doesn't
    * own (the r15 flake class). */
  private[graft] def signatureCacheFrame(s: SparkSession, dir: String): Option[DataFrame] =
    Option(signatureCache.get((s, dir))).map(_._1)
  private[graft] def benchNgramCacheFrame(s: SparkSession, dir: String): Option[DataFrame] =
    Option(benchNgramCache.get((s, dir))).map(_._1)

  /** Drop any cached corpus-derived frame for `dir` (all sessions, both
    * the signature table and d8's bench n-gram set); the next dedup run
    * re-reads the corpus. Call after rewriting the corpus dir — the
    * analogue of ParquetStore.invalidateIndex after an o.o.b. rewrite. */
  def invalidateSignatures(dir: String): Unit = cacheLock.synchronized {
    for (cache <- corpusFrameCaches)
      cache.entrySet().removeIf { e =>
        // parameterized keys suffix the dir with "#..." (e.g. the span
        // cache's "#spans<n>") — a corpus rewrite must drop those too
        val matches = e.getKey._2 == dir || e.getKey._2.startsWith(dir + "#")
        if (matches && !e.getKey._1.sparkContext.isStopped)
          e.getValue._1.unpersist(blocking = false)
        matches
      }
    // the signature frame reads through the memoized table frame — a
    // rewritten corpus must drop both or the rebuild re-reads stale files
    Tables.invalidate(dir)
  }

  private[graft] def bandedKeys(d: DataFrame): DataFrame = {
    val rowsPerBand = MinhashK / Bands // 4
    d.select(col("doc_id"), posexplode(
      array((0 until Bands).map(b =>
        xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
      .as(Seq("band", "band_hash")))
  }

  /** Audit view of LSH buckets that exceed the pair-generation cap: these
    * are exact/near-dup families handled by d1, not by pairwise verify. */
  def oversizedLshBuckets(s: SparkSession, dir: String,
      maxBucket: Int = MaxLshBucket): DataFrame =
    bandedKeys(signatureTable(s, dir))
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n") > maxBucket)

  /** (doc_id, shingle set, MinHash signature) for any (doc_id, text)
    * frame — the per-batch form of [[signatureTable]] (no memoization: a
    * micro-batch is consumed once). */
  def signaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), shingles(col("ws"), 2).as("sh"))
      .withColumn("sig", minhash_signature(col("sh"), MinhashK))

  /** Verified near-dup pairs between a probe frame and an accumulated
    * base signature table — the LSH probe of the streaming near-dup
    * front door (DocStream). The candidate join is UNHINTED: for a
    * normal micro-batch AQE broadcasts the probe's band keys and the
    * base scans once map-side, never shuffling; for a backlog-sized
    * first batch (the checkpoint-wipe replay path, Trigger.AvailableNow
    * over history) a forced broadcast would blow the driver, so AQE
    * falls back to shuffling both sides on the uniform band key — the
    * same no-hint policy minhashPairsOfSigs states for its verify
    * joins. Only candidate pairs enter the exact-Jaccard verify. No
    * bucket cap: candidates are bounded by |probe| × bucket
    * co-location. */
  def probePairsAgainst(probeSigs: DataFrame, baseSigs: DataFrame): DataFrame = {
    val pBand = bandedKeys(probeSigs).select(
      col("doc_id").as("new_id"), col("band"), col("band_hash"))
    val cand = bandedKeys(baseSigs)
      .join(pBand, Seq("band", "band_hash"))
      .select(col("new_id"), col("doc_id").as("base_id"))
      .distinct()
    cand
      .join(probeSigs.select(col("doc_id").as("new_id"), col("sh").as("sh_n")), "new_id")
      .join(baseSigs.select(col("doc_id").as("base_id"), col("sh").as("sh_b")), "base_id")
      .where(jaccard_sim(col("sh_n"), col("sh_b")) >= JaccardThreshold)
      .select(col("new_id"), col("base_id"))
  }

  def minhashPairs(s: SparkSession, dir: String,
      maxBucket: Int): DataFrame =
    minhashPairsOfSigs(signatureTable(s, dir), maxBucket)

  /** [[minhashPairs]] over any (doc_id, sh, sig) signature frame. */
  def minhashPairsOfSigs(d: DataFrame, maxBucket: Int): DataFrame = {
    val banded = bandedKeys(d)
    // Candidate pairs via bucket grouping, not a self-join: the (band, hash)
    // exchange is computed once and REUSED (count pass and collect pass hash
    // the same child — Spark's exchange reuse collapses them). The count
    // pass bounds every bucket BEFORE collect_list materializes it, so no
    // single task ever holds more than maxBucket ids: buckets with
    // 2..maxBucket members generate pairs; larger ones are excluded here
    // and surfaced by oversizedLshBuckets.
    val inCap = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"))
      .where(col("bucket_n").between(2, maxBucket))
      .select(col("band"), col("band_hash"))
    val candidates = banded
      .join(inCap, Seq("band", "band_hash"))
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .select(explode(expr(
        """filter(
          |  flatten(transform(ids, x -> transform(ids, y -> struct(x AS doc_a, y AS doc_b)))),
          |  p -> p.doc_a < p.doc_b)""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    // No broadcast hint on the verification joins: the shingle table is
    // corpus-sized — a forced broadcast would OOM at scale. AQE broadcasts
    // it while it is small and shuffles on doc_id once it is not.
    val withSets = candidates
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    val jac = jaccard_sim(col("sh_a"), col("sh_b"))
    withSets.where(jac >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jac"))
  }

  /** D6: dedup keep-list — the final step of a training-data dedup
    * pipeline: collapse near-dup pairs into connected components and elect
    * one keeper (min doc_id) per component; every document maps to its
    * keeper (itself when un-duplicated).
    *
    * Distributed CC by iterative min-label propagation:
    * `comp(v) ← min(comp(v), min over neighbors comp(u))` until fixpoint —
    * each round is one equi-join + partial-agg groupBy (no cartesian, no
    * driver-side graph). Rounds needed = graph diameter; near-dup
    * components are dense families (quasi-cliques), so 2-3 rounds converge
    * in practice. Lineage is truncated per round (eager localCheckpoint;
    * at 100 TB: checkpoint to the cluster store), and the loop stops the
    * round after nothing changes.
    *
    * `pairs` is pluggable: at scale feed `minhashPairs` (the d2 LSH path);
    * the oracle-checked gate query feeds the exact-Jaccard pairs so DuckDB
    * can replicate the semantics with a recursive CTE. ExtSpec asserts the
    * two pair sources produce identical keep-lists. */
  def keepList(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .localCheckpoint(true)
    var comp = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("comp", col("doc_id"))
      .localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 20) {
      val nbrMin = edges
        .join(comp.select(col("doc_id").as("dst"), col("comp")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("comp").as("nbr_comp"))
      // r17: carry the previous label through the checkpoint so the
      // convergence test is a filter over the just-materialized frame —
      // the old form re-joined next against comp (an extra shuffle-join
      // per round on top of the check's own action).
      val next = comp.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
        .localCheckpoint(true)
      converged = next.where(col("comp") =!= col("prev")).isEmpty
      comp = next.select(col("doc_id"), col("comp"))
      rounds += 1
    }
    docs.select("doc_id").join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("keep_id"))
  }

  /** Incremental keeper election — the daily-ingest form of [[keepList]].
    * A full recompute re-runs CC over the corpus-wide pair set; this
    * instead CONTRACTS the already-converged base: every base component
    * collapses to its keeper id (the component minimum, so contraction
    * preserves the min-label algebra), new edges are rewritten onto those
    * supernodes, and CC runs only on the contracted graph — O(new edges +
    * touched components), proportional to the day's data. Feed `newPairs`
    * from [[minhashPairsIncremental]] (pairs touching ≥1 new doc; its
    * bucket pruning is the same day-sized bound).
    *
    * Inputs: `baseKeepers` = the previous keep-list (doc_id, keep_id);
    * `newPairs` = near-dup pairs with at least one endpoint outside the
    * base; `newDocs` = all new doc ids (isolated ones keep themselves).
    * Output: the full updated keep-list over base ∪ new — provably equal
    * to `keepList(basePairs ∪ newPairs, allDocs)` (ExtSpec property);
    * untouched base components pass through unjoined-unchanged. */
  def keepListIncremental(baseKeepers: DataFrame, newPairs: DataFrame,
      newDocs: DataFrame): DataFrame = {
    val reps = baseKeepers.select(col("doc_id"), col("keep_id"))
    // rewrite each endpoint to its base keeper (new docs represent
    // themselves); drop edges that collapse inside one base component
    val contracted = newPairs
      .join(reps.select(col("doc_id").as("doc_a"), col("keep_id").as("ra")), Seq("doc_a"), "left")
      .join(reps.select(col("doc_id").as("doc_b"), col("keep_id").as("rb")), Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
    val nodes = contracted.select(col("doc_a").as("doc_id"))
      .union(contracted.select(col("doc_b").as("doc_id"))).distinct()
    // CC on the contracted graph only; supernode labels are already
    // component minima, so the merged minimum is the true corpus minimum
    val superComp = keepList(contracted, nodes)
      .select(col("doc_id").as("super"), col("keep_id").as("merged"))
    val baseOut = baseKeepers
      .join(superComp.withColumnRenamed("super", "keep_id"), Seq("keep_id"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("keep_id")).as("keep_id"))
    val newOut = newDocs.select("doc_id")
      .join(superComp.withColumnRenamed("super", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("merged"), col("doc_id")).as("keep_id"))
    baseOut.union(newOut)
  }

  /** Exact near-dup pairs (doc_a, doc_b) — d3's pair set, reused by the d6
    * oracle anchor. */
  private[graft] def exactPairs(s: SparkSession, dir: String): DataFrame = {
    val d = docShingles(s, dir)
    val a = d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val jac = jaccard_sim(col("sh_a"), col("sh_b"))
    a.join(broadcast(b), col("doc_a") < col("doc_b"))
      .where(jac >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** The exact-Jaccard keeper-election CTE chain (shingle → pairs →
    * transitive closure → min-label keeper), shared verbatim between the
    * d6 oracle and sp2's family-split oracle so the two cannot drift.
    * Ends with `k(doc_id, keep_id)`. */
  private[graft] def keepListCtes: String =
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)),
       |           i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
       |                string_split_regex(lower(trim(text)), '\\s+')[i+1])) AS sh
       |  FROM documents),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM d a JOIN d b ON a.doc_id < b.doc_id
       |  WHERE cast(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |        / len(list_distinct(a.sh || b.sh)) >= $JaccardThreshold),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM p
       |          UNION SELECT doc_b, doc_a FROM p),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |c AS (SELECT a AS doc_id, least(min(b), a) AS keep FROM reach GROUP BY a),
       |k AS (SELECT docs.doc_id, coalesce(c.keep, docs.doc_id) AS keep_id
       |      FROM documents docs LEFT JOIN c USING (doc_id))""".stripMargin

  private val d6KeepList = withOracle("d6_dedup_keeplist",
    s"""$keepListCtes
       |SELECT doc_id, keep_id FROM k""".stripMargin) { (s, dir) =>
    keepList(exactPairs(s, dir), Tables(s, dir, "documents"))
  }

  /** D16: dup-cluster size histogram — the dedup REPORT a corpus card
    * carries (how much of the corpus is duplicated, and in what family
    * sizes): cluster size → number of clusters → docs covered. Derived
    * from the keeper election, so the gate form shares d6's exact-pair
    * oracle anchor (and its bench exclusion); at scale the input is
    * keepList over [[minhashPairs]] and both aggregations are bounded —
    * keeper-keyed counts then a histogram over at most |distinct sizes|
    * keys. Σ n_docs = |corpus| by construction (every doc has a keeper). */
  private val d16DupHistogram = withOracle("d16_dup_histogram",
    s"""$keepListCtes,
       |cs AS (SELECT keep_id, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM k GROUP BY keep_id)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       |FROM cs GROUP BY cluster_size""".stripMargin) { (s, dir) =>
    keepList(exactPairs(s, dir), Tables(s, dir, "documents"))
      .groupBy(col("keep_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
  }

  /** D4 SimHash near-dup pairs: 64-bit signature, bucket on the top 16
    * bits, verify by Hamming distance within buckets.
    *
    * FULL oracle (r10, upgraded from rows-only): SimHash is a pure
    * function of the shingle set, so DuckDB recomputes the WHOLE
    * operator — distinct 2-word shingles, FNV-1a per shingle (the x1
    * oracle's list_reduce + overflow-safe mulmod machinery), the 64
    * majority-vote bits (bit set ⟺ 2·|set| > |shingles|, matching the
    * kernel's strict counts(bit) > 0), then the DECLARED bucketed
    * semantics: pairs equal on the top-16-bit band with Hamming ≤ 6.
    * The band condition is part of the spec (6 differing bits can all
    * land in one band, so this is not pigeonhole-exact like mmd1 —
    * that trade is what the oracle now checks verbatim). */
  private val d4Simhash = withOracle("d4_dedup_simhash",
    """CREATE OR REPLACE MACRO graft_u64(x) AS
      |  CAST(CAST(x AS HUGEINT) % 18446744073709551616 AS UBIGINT);
      |CREATE OR REPLACE MACRO graft_fnvstep(h, c) AS graft_u64(
      |  (CAST(xor(h, c) AS HUGEINT) * 435) % 18446744073709551616 +
      |  ((CAST(xor(h, c) AS HUGEINT) * 256) % 4294967296) * 4294967296);
      |CREATE OR REPLACE MACRO graft_strcodes(s) AS
      |  list_transform(range(1, length(s)+1), i -> CAST(ord(s[i]) AS UBIGINT));
      |WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |         CASE WHEN len(ws) < 2 THEN CAST([] AS VARCHAR[])
      |              ELSE list_distinct(list_transform(range(1, len(ws)),
      |                     i -> ws[i] || ' ' || ws[i+1])) END AS sh
      |  FROM w),
      |hh AS (
      |  SELECT doc_id,
      |         list_transform(sh, s ->
      |           list_reduce([CAST(14695981039346656037 AS UBIGINT)] || graft_strcodes(s),
      |             (h, c) -> graft_fnvstep(h, c))) AS hs,
      |         len(sh) AS n
      |  FROM sh),
      |sim AS (
      |  SELECT doc_id,
      |         graft_u64(list_sum(list_transform(range(0, 64), b ->
      |           CASE WHEN 2 * len(list_filter(hs,
      |                  h -> (h >> CAST(b AS UBIGINT)) & CAST(1 AS UBIGINT)
      |                         = CAST(1 AS UBIGINT))) > n
      |                THEN (CAST(1 AS HUGEINT) << CAST(b AS INT))
      |                ELSE CAST(0 AS HUGEINT) END))) AS sim
      |  FROM hh)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      |FROM sim a JOIN sim b ON (a.sim >> 48) = (b.sim >> 48) AND a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 6""".stripMargin) { (s, dir) =>
    val d = docShingles(s, dir)
      .select(col("doc_id"), simhash64(col("sh")).as("sim"))
      .withColumn("bucket", shiftrightunsigned(col("sim"), 48))
    val a = d.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"), col("bucket"))
    val b = d.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"), col("bucket"))
    // plain equi-join on the bucket key — both sides are corpus-sized, so
    // no broadcast hint; AQE picks broadcast only while the table is small
    a.join(b, Seq("bucket"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))))
      .where(col("hamming") <= 6)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** D5 embedding-cosine near-dup pairs (exact, oracle-checked; the
    * LSH-bucketed scale variant is SimilarityQueries.s2). The oracle
    * replicates the exact same double-accumulation formula. */
  private val d5Embed = withOracle("d5_dedup_embedding",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |       round(list_dot_product(a.v, b.v) /
      |             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS cos
      |FROM e a JOIN e b ON a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin) { (s, dir) =>
    // Norms precomputed per row (sqrt(dot(x,x)) once per vector, not per
    // pair) — accumulation order per sum is unchanged, so bitwise-equal to
    // the pairside formula the oracle runs.
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"),
        sqrt(dot_f(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"))
    val cos = dot_f(col("va"), col("vb")) / (col("na") * col("nb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .where(cos >= 0.4)
      .select(col("id_a"), col("id_b"), round(cos, 4).as("cos"))
  }

  /** SemDeDup clustering fan-out (k) and the within-cluster cosine
    * threshold (d5's, so the k=1 degenerate case IS d5's pair set —
    * the ExtSpec equality property). */
  val SemK = 8
  val SemThreshold = 0.4

  /** Within-cluster exact-cosine pair candidates — the SemDeDup candidate
    * generator (Abbas et al. 2023, arXiv:2303.09540): a KMeans coarse
    * partition (deterministic seed) bounds the quadratic exact-cosine
    * pass to within-cluster pairs. Every emitted pair is verified with
    * the EXACT cosine (same formula as d5), so sem pairs ⊆ d5 pairs by
    * construction — clustering only costs recall (cross-cluster dups),
    * never precision; with k=1 the pair sets are equal (ExtSpec).
    *
    * Scale shape: the published recipe sizes k ∝ √n so expected cluster
    * size stays bounded — the pair join is an equi-join on `cell` whose
    * per-key cost is cluster², linear-ish in corpus for bounded clusters.
    * Centroid training is a write-side one-off (like s3's IVF cells:
    * store `cell` as a partition column); serving-side dedup reads only
    * its own cell — embarrassingly parallel across cells. */
  def semDedupPairs(s: SparkSession, dir: String, k: Int = SemK): DataFrame = {
    val e0 = Tables(s, dir, "embeddings")
    // k=1 is the degenerate no-clustering case (one cell = all pairs —
    // the ExtSpec ≡-d5 anchor); KMeans itself requires k >= 2
    val celled =
      if (k == 1) e0.select(col("vec_id"), col("embedding"), lit(0).as("cell"))
      else {
        import org.apache.spark.ml.clustering.KMeans
        import org.apache.spark.ml.functions.array_to_vector
        val e = e0.withColumn("features", array_to_vector(col("embedding")))
        val model = new KMeans().setK(k).setSeed(42).setMaxIter(5).fit(e)
        model.transform(e)
          .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
      }
    val assigned = celled.withColumn("nrm",
      sqrt(dot_f(col("embedding"), col("embedding"))))
    val a = assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("vb"), col("nrm").as("nb"))
    val cos = dot_f(col("va"), col("vb")) / (col("na") * col("nb"))
    a.join(b, Seq("cell"))
      .where(col("doc_a") < col("doc_b"))
      .where(cos >= SemThreshold)
      .select(col("doc_a"), col("doc_b"))
  }

  /** SEM1: SemDeDup keeper manifest — semantic-duplicate families from
    * within-cluster cosine pairs, collapsed to one keeper per family via
    * the shared component election ([[keepList]], min-id keeper).
    * KMeans isn't ANSI-expressible → rows-only; the subset/equality
    * properties vs the oracle-checked d5 are pinned in ExtSpec. */
  private val sem1SemDedup = rowsOnly("sem1_semdedup") { (s, dir) =>
    keepList(semDedupPairs(s, dir),
      Tables(s, dir, "embeddings").select(col("vec_id").as("doc_id")))
      .select(col("doc_id").as("vec_id"), col("keep_id"))
  }

  /** D7: train/eval n-gram decontamination — flag training documents that
    * share word 4-grams with a benchmark set (here: the deterministic 5%
    * of docs with `doc_id % 100 < 5`; production uses the eval suites and
    * 8-13-grams — this corpus's vocabulary is tiny, so 4-grams give the
    * same overlap behavior). Scale design: the benchmark n-gram set is
    * BOUNDED (eval suites are MBs, not TBs), so it is distinct-ed and
    * broadcast — the 100 TB training side streams map-only through a
    * broadcast-hash semi-probe, one aggregation shuffle on doc_id at the
    * end. Distinct n-grams per doc come from the O(words) shingle kernel,
    * not a transform/element_at chain. */
  /** D9: incremental (cross-snapshot) exact dedup — the daily-ingest shape:
    * a NEW batch (here the deterministic 20% with `doc_id % 10 >= 8`) is
    * deduplicated against the already-curated BASE corpus and within
    * itself, without ever re-pairing base-vs-base. Each new doc is classed
    * `dup_of_base` (content hash already in base — keeper is base's),
    * `dup_in_batch` (first seen inside this batch — keeper is the batch's
    * min doc_id), or `unique`.
    *
    * Scale shape: the base side reduces to its content-hash index
    * (16 B/doc — precomputed once per snapshot, never rescanning base
    * text); the join keys are uniform hashes so the one exchange is
    * skew-free, and the batch side is small by definition, so AQE
    * broadcasts it both ways. Work per ingest is O(batch + base-index),
    * not O(corpus²) — the property that makes daily dedup of a 100 TB
    * corpus a routine job. The near-dup analogue is
    * [[minhashPairsIncremental]]. */
  private val d9Incremental = withOracle("d9_incremental_dedup",
    """WITH h AS (
      |  SELECT doc_id, md5(text) AS ch, doc_id % 10 >= 8 AS is_new FROM documents),
      |base AS (SELECT ch, min(doc_id) AS base_keep FROM h WHERE NOT is_new GROUP BY 1),
      |batch AS (SELECT ch, min(doc_id) AS batch_keep FROM h WHERE is_new GROUP BY 1)
      |SELECT n.doc_id,
      |       CASE WHEN base.base_keep IS NOT NULL THEN 'dup_of_base'
      |            WHEN n.doc_id <> batch.batch_keep THEN 'dup_in_batch'
      |            ELSE 'unique' END AS status,
      |       coalesce(base.base_keep, batch.batch_keep) AS keep_id
      |FROM h n
      |LEFT JOIN base USING (ch)
      |JOIN batch USING (ch)
      |WHERE n.is_new""".stripMargin) { (s, dir) =>
    val h = Tables(s, dir, "documents").select(
      col("doc_id"), md5(col("text").cast("binary")).as("ch"),
      (col("doc_id") % 10 >= 8).as("is_new"))
    // both keepers from ONE aggregation pass (min ignores the nulls the
    // `when` injects) — one exchange on the uniform hash key and two text
    // scans total (probe + build), where separate base/batch aggregations
    // would cost three. batch_keep is never null for a probed row: the
    // row itself is in its group.
    val byHash = h.groupBy("ch").agg(
      min(when(!col("is_new"), col("doc_id"))).as("base_keep"),
      min(when(col("is_new"), col("doc_id"))).as("batch_keep"))
    h.where(col("is_new"))
      .join(byHash, Seq("ch"))
      .select(col("doc_id"),
        when(col("base_keep").isNotNull, "dup_of_base")
          .when(col("doc_id") =!= col("batch_keep"), "dup_in_batch")
          .otherwise("unique").as("status"),
        coalesce(col("base_keep"), col("batch_keep")).as("keep_id"))
  }

  /** Near-dup candidate pairs involving at least one NEW document — the
    * incremental form of [[minhashPairs]] for snapshot-over-snapshot
    * ingestion. Old–old pairs are never generated: only LSH buckets that
    * contain a new member produce candidates, and within such a bucket the
    * pair comprehension drops all-old pairs before the explode. At scale
    * the signature/banded-key side of the OLD corpus is a materialized
    * table maintained across snapshots, so each ingest pays
    * O(batch signatures + buckets touched by the batch) — the daily cost
    * is proportional to the day's data, not the corpus. Verification
    * joins stay unhinted (AQE decides), same as the full path. Equality
    * with the filtered full pair set is pinned in ExtSpec. */
  def minhashPairsIncremental(s: SparkSession, dir: String, isNew: Column,
      maxBucket: Int = MaxLshBucket): DataFrame = {
    val d = signatureTable(s, dir).withColumn("is_new", isNew)
    val banded = bandedKeys(d.select(col("doc_id"), col("sig")))
      .join(d.select(col("doc_id"), col("is_new")), "doc_id")
    val touched = banded
      .groupBy(col("band"), col("band_hash"))
      .agg(count(lit(1)).as("bucket_n"),
        max(col("is_new").cast("int")).as("has_new"))
      .where(col("bucket_n").between(2, maxBucket) && col("has_new") === 1)
      .select(col("band"), col("band_hash"))
    val candidates = banded
      .join(touched, Seq("band", "band_hash"))
      .groupBy(col("band"), col("band_hash"))
      .agg(collect_list(struct(col("doc_id"), col("is_new"))).as("ms"))
      .select(explode(expr(
        """filter(
          |  flatten(transform(ms, x -> transform(ms, y ->
          |    struct(x.doc_id AS doc_a, y.doc_id AS doc_b,
          |           x.is_new OR y.is_new AS any_new)))),
          |  p -> p.doc_a < p.doc_b AND p.any_new)""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
    val withSets = candidates
      .join(d.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(d.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
    val jac = jaccard_sim(col("sh_a"), col("sh_b"))
    withSets.where(jac >= JaccardThreshold)
      .select(col("doc_a"), col("doc_b"), round(jac, 4).as("jac"))
  }

  private val DecontaminationSql =
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      |ng AS (
      |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, greatest(len(ws) - 2, 1)),
      |                          i -> array_to_string(ws[i:i+3], ' ')))) AS g
      |  FROM w),
      |bench AS (SELECT DISTINCT g FROM ng WHERE doc_id % 100 < 5),
      |cand AS (SELECT doc_id, g FROM ng WHERE doc_id % 100 >= 5)
      |SELECT cand.doc_id, count(*) AS n_contaminated
      |FROM cand JOIN bench USING (g)
      |GROUP BY 1""".stripMargin

  /** doc_id + exploded distinct word-4-grams, the shared input of d7/d8. */
  private def docNgrams(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), explode(shingles(col("ws"), 4)).as("g"))

  private val d7Contamination = withOracle("d7_decontamination",
    DecontaminationSql) { (s, dir) =>
    val ng = docNgrams(s, dir)
    val bench = ng.where(col("doc_id") % 100 < 5).select("g").distinct()
    val cand = ng.where(col("doc_id") % 100 >= 5)
    cand.join(broadcast(bench), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** D15: FUZZY decontamination — d7's exact n-gram overlap misses
    * reworded/perturbed benchmark leakage, so flag training docs that are
    * NEAR-duplicates (shingle Jaccard ≥ [[JaccardThreshold]]) of any
    * benchmark doc. Runs on [[probePairsAgainst]] — the LSH band probe
    * with the bounded benchmark side as the base, so the training corpus
    * is banded and bucket-joined against bench band keys (AQE broadcasts
    * them while bench is small), never pairing train-vs-train at all;
    * only colliding candidates enter the exact-Jaccard verify. Full
    * recall at ≥ threshold is the same pinned LSH property d2 relies on,
    * which is why the exact-pair oracle is valid. */
  private val d15FuzzyDecontam = withOracle("d15_fuzzy_decontam",
    s"""WITH d AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(range(1, greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)),
       |           i -> string_split_regex(lower(trim(text)), '\\s+')[i] || ' ' ||
       |                string_split_regex(lower(trim(text)), '\\s+')[i+1])) AS sh
       |  FROM documents),
       |p AS (SELECT t.doc_id AS doc_id, b.doc_id AS bench_id
       |      FROM d b JOIN d t ON b.doc_id % 100 < 5 AND t.doc_id % 100 >= 5
       |      WHERE cast(len(list_intersect(t.sh, b.sh)) AS DOUBLE)
       |            / len(list_distinct(t.sh || b.sh)) >= $JaccardThreshold)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_matches,
       |       min(bench_id) AS first_bench_match
       |FROM p GROUP BY doc_id""".stripMargin) { (s, dir) =>
    val sigs = signatureTable(s, dir)
    probePairsAgainst(
        sigs.where(col("doc_id") % 100 >= 5),
        sigs.where(col("doc_id") % 100 < 5))
      .groupBy(col("new_id").as("doc_id"))
      .agg(count(lit(1)).as("n_bench_matches"),
        min(col("base_id")).as("first_bench_match"))
  }

  /** D8: d7's decontamination through a Bloom pre-filter — the shape that
    * survives when the benchmark n-gram set outgrows the broadcast-hash
    * join d7 forces. The bench set aggregates into one Bloom sketch
    * (~1.2 MB/M grams at 1% fpp — a task-binary constant, not a shuffle
    * side), and the corpus's n-grams are probed map-side at scan
    * throughput: only survivors (true contamination + fpp·|clean|) ever
    * enter the verification join, which is unhinted so AQE broadcasts the
    * bench side while it's small and shuffles only the surviving sliver
    * once it isn't. Bloom filters have no false negatives and the exact
    * join removes false positives, so the output — and the oracle — is
    * byte-identical to d7's. The one-row driver collect materializes the
    * sketch, like s3's bounded centroid collect. */
  private val benchNgramCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)]()

  private val spanCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)]()

  registerCorpusCache(signatureCache)
  registerCorpusCache(benchNgramCache)
  registerCorpusCache(spanCache)

  private val d8ContaminationBloom = withOracle("d8_decontam_bloom",
    DecontaminationSql) { (s, dir) =>
    import graft.functions.{bloom_agg, bloom_might_contain}
    val ng = docNgrams(s, dir)
    // memoized + persisted: the bench set feeds TWO jobs — the eager
    // driver-side bloom_agg collect and the lazy verification join —
    // which would otherwise each scan and shingle the benchmark docs
    val bench = memoizedPersisted(benchNgramCache, s, dir) {
      docNgrams(s, dir).where(col("doc_id") % 100 < 5).select("g").distinct()
    }
    val bloom = bench
      .agg(bloom_agg(xxhash64(col("g")), expectedItems = 1L << 20, fpp = 0.01).as("bf"))
      .head.getAs[Array[Byte]](0)
    // empty bench set → null sketch → null probe → no survivors (= d7's
    // empty-join result); lit() can't type a null Array[Byte] by itself
    val bloomCol = if (bloom == null) lit(null).cast("binary") else lit(bloom)
    val cand = ng.where(col("doc_id") % 100 >= 5)
      .where(bloom_might_contain(bloomCol, xxhash64(col("g"))))
    cand.join(bench, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_contaminated"))
  }

  /** Minimum duplicated-span length (words) for d10. Lee et al. use 50
    * BPE tokens on web corpora; the synthetic gate corpus carries
    * shorter repeats, so the gate runs at 5 — the operator is
    * length-parameterized either way. */
  val SpanWords = 5

  /** D10: substring-level exact dedup — maximal duplicated SPANS inside
    * otherwise-distinct documents (the ExactSubstr operator of Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better" —
    * public design), in its sorted-n-gram-run formulation: a word position
    * is duplicated iff the n-gram starting there occurs more than once in
    * the corpus (any doc, including its own); maximal runs of consecutive
    * duplicated positions are the reported spans [span_start,
    * span_end = last_pos + n). Document-granular dedup (d1/d2/d9) cannot
    * see these — boilerplate headers, license blocks, syndicated
    * paragraphs embedded in otherwise-unique documents.
    *
    * Scale shape (no suffix array, nothing corpus-sized on one task):
    *   1. one scan explodes positional gram HASHES (16 bytes/row, the
    *      [[graft.ext.GramHashes]] kernel — never the gram text);
    *   2. duplicated grams = hash-groupBy count>1 — partial aggregation
    *      collapses repeats map-side, the exchange keys on the uniform
    *      64-bit hash (the d1 shape at token granularity);
    *   3. membership join back is UNHINTED: AQE broadcasts the duplicated-
    *      gram set while it is small and shuffle-joins (with skew
    *      splitting) once it is not;
    *   4. the run merge windows per (doc_id) — state bounded by one
    *      document's duplicated positions, the exchange uniform in docs.
    * The gram stream is derived twice (count + join-back), like d7/d8's
    * shared n-gram frame; at 100 TB the gram table is a write-side
    * materialization, exactly as the d2 signature cache plays there —
    * and in a serving session the SPAN table below is persisted through
    * the same TTL-memoized cache (d10 emits it, d11's coverage, d12's
    * scrub and repeated runs all reuse one copy instead of recomputing
    * the gram pipeline per query). */
  def substringSpans(s: SparkSession, dir: String, n: Int): DataFrame =
    memoizedPersisted(spanCache, s, s"$dir#spans$n") {
      substringSpansOf(Tables(s, dir, "documents"), n)
    }

  /** [[substringSpans]] over any (doc_id, text) frame. */
  def substringSpansOf(docs: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), posexplode(gram_hashes(col("ws"), n)).as(Seq("pos", "g")))
    val dupG = grams.groupBy("g").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > 1).select("g")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    grams.join(dupG, "g")
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n).cast("long").as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select("doc_id", "span_start", "span_end", "n_dup_grams")
  }

  /** Merged (non-overlapping) duplicated-span extents per doc: adjacent
    * d10 spans whose extents overlap (gap between runs < n tokens) union
    * into one interval — the coverage geometry d11/d12 consume. Second
    * gaps-and-islands pass, per-doc window state = one doc's spans. */
  def mergedSpanExtents(docs: DataFrame, n: Int): DataFrame =
    mergeSpans(substringSpansOf(docs, n))

  /** [[mergedSpanExtents]] over the TTL-memoized span table — the path
    * d11/d12 take so the gram pipeline runs once per (dir, n) per TTL. */
  def mergedSpanExtentsCached(s: SparkSession, dir: String, n: Int): DataFrame =
    mergeSpans(substringSpans(s, dir, n))

  private def mergeSpans(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wOrd = Window.partitionBy("doc_id").orderBy("span_start")
    spans
      .withColumn("prev_max",
        max("span_end").over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_isl",
        when(col("prev_max").isNull || col("span_start") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("isl",
        sum("new_isl").over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min("span_start").as("s"), max("span_end").as("e"))
      .select("doc_id", "s", "e")
  }

  /** The shared span CTE chain (positional grams → duplicated positions →
    * maximal runs → merged extents), composable into a larger WITH: names
    * are `sp_`-prefixed and the corpus source is a parameter, so d10/d11/
    * d12 chain it over `documents` while cur1 chains it over its candidate
    * pool alongside its own CTEs. Emits `sp_w` (doc_id, ws), `sp_r`
    * (duplicated positions + island) and `sp_mi` (merged extents). */
  private[queries] def spanCtes(L: Int, source: String = "documents"): String =
    s"""sp_w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM $source),
       |sp_g AS (
       |  SELECT doc_id, i AS pos, array_to_string(ws[i+1:i+$L], ' ') AS gram
       |  FROM sp_w, unnest(range(0, greatest(len(ws) - $L + 1, 0))) AS t(i)),
       |sp_d AS (
       |  SELECT doc_id, pos FROM sp_g
       |  WHERE gram IN (SELECT gram FROM sp_g GROUP BY gram HAVING count(*) > 1)),
       |sp_r AS (
       |  SELECT doc_id, pos,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
       |  FROM sp_d),
       |sp_sp AS (
       |  SELECT doc_id, min(pos) AS s, max(pos) + $L AS e
       |  FROM sp_r GROUP BY doc_id, island),
       |sp_x AS (
       |  SELECT doc_id, s, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY s
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
       |  FROM sp_sp),
       |sp_m AS (
       |  SELECT doc_id, s, e,
       |         sum(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
       |           OVER (PARTITION BY doc_id ORDER BY s
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
       |  FROM sp_x),
       |sp_mi AS (SELECT doc_id, min(s) AS s, max(e) AS e FROM sp_m GROUP BY doc_id, isl)""".stripMargin

  /** D11: duplicated-span coverage — the per-doc fraction of tokens inside
    * any duplicated span, THE decision signal of ExactSubstr dedup (gate
    * on coverage > threshold to drop boilerplate-heavy docs; report it on
    * a dataset card). Overlapping span extents (runs closer than n) are
    * union-merged first, so a token is never counted twice. Same plan
    * family as d10 plus one bounded per-doc window and a broadcast-sized
    * join back to the corpus' word counts. */
  private val d11Coverage = withOracle("d11_span_coverage",
    s"""WITH ${spanCtes(SpanWords)},
       |cov AS (SELECT doc_id, sum(e - s) AS dup_tokens FROM sp_mi GROUP BY doc_id)
       |SELECT sp_w.doc_id, len(sp_w.ws) AS n_words,
       |       CAST(coalesce(cov.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       |       CAST((coalesce(cov.dup_tokens, 0) * 1000000)
       |            // greatest(len(sp_w.ws), 1) AS BIGINT) AS coverage_ppm
       |FROM sp_w LEFT JOIN cov USING (doc_id)""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val cov = mergedSpanExtentsCached(s, dir, SpanWords)
      .groupBy("doc_id").agg(sum(col("e") - col("s")).as("dup_tokens"))
    docs.select(col("doc_id"), size(words(col("text"))).cast("long").as("n_words"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      // coverage as exact-integer parts-per-million: a rounded double ratio
      // is engine-divergent at the last digit (BigDecimal HALF_UP vs
      // float-scaled rounding); integer division agrees everywhere
      .select(col("doc_id"), col("n_words"), col("dup_tokens"),
        expr("dup_tokens * 1000000L div greatest(n_words, 1L)").as("coverage_ppm"))
  }

  /** D12: substring scrub — the TRANSFORM of ExactSubstr dedup: every
    * token inside a duplicated span removed (all occurrences, the Lee et
    * al. policy), remaining tokens rejoined. The merged extents collect
    * into one bounded array per affected doc (spans per doc, not corpus
    * rows) and the word filter is a map-side higher-order function over
    * the existing word array — the corpus text is scanned once and never
    * shuffled; clean docs pass through a left join untouched. Output is
    * counts + an md5 of the scrubbed text (engine-portable; the full
    * string would bloat the gate dump). */
  private val d12Scrub = withOracle("d12_substring_scrub",
    s"""WITH ${spanCtes(SpanWords)},
       |cv AS (SELECT doc_id, flatten(list(range(s, e))) AS covered FROM sp_mi GROUP BY doc_id)
       |SELECT sp_w.doc_id, len(sp_w.ws) AS n_words,
       |       len(sp_w.ws) - coalesce(len(cv.covered), 0) AS kept_tokens,
       |       md5(coalesce(array_to_string(
       |         list_transform(
       |           list_filter(range(0, len(sp_w.ws)),
       |                       i -> NOT list_contains(coalesce(cv.covered, []), i)),
       |           i -> sp_w.ws[i + 1]), ' '), '')) AS scrubbed_hash
       |FROM sp_w LEFT JOIN cv USING (doc_id)""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val iv = mergedSpanExtentsCached(s, dir, SpanWords)
      .groupBy("doc_id").agg(collect_list(struct(col("s"), col("e"))).as("iv"))
    docs.select(col("doc_id"), words(col("text")).as("ws"))
      .join(iv, Seq("doc_id"), "left")
      // null iv = clean doc: keep every word (a null short-circuits the
      // HOF predicate to null, which filter() would read as drop-all)
      .withColumn("kept", when(col("iv").isNull, col("ws"))
        .otherwise(filter(col("ws"), (_, i) =>
          !exists(col("iv"), x =>
            i.cast("long") >= x.getField("s") && i.cast("long") < x.getField("e")))))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("kept_tokens"),
        md5(concat_ws(" ", col("kept")).cast("binary")).as("scrubbed_hash"))
  }

  private val d10Substring = withOracle("d10_substring_dedup",
    // shares spanCtes with d11/d12/cur1 — one source of truth for the
    // gram/run definitions; DuckDB skips the unreferenced interval tail
    s"""WITH ${spanCtes(SpanWords)}
       |SELECT doc_id, min(pos) AS span_start, max(pos) + $SpanWords AS span_end,
       |       count(*) AS n_dup_grams
       |FROM sp_r GROUP BY doc_id, island""".stripMargin) { (s, dir) =>
    substringSpans(s, dir, SpanWords)
  }

  /** D13: corpus-wide duplicated-LINE removal (the MassiveText / C4
    * "repeated lines" rule, Rae et al. 2021 §A1.2): any line occurring more
    * than `DupLineMax` times across the corpus is boilerplate and is
    * removed from EVERY document; survivors are reassembled in order. The
    * granularity between d1 (whole document) and d10 (n-gram span): real
    * corpora repeat nav/footer/subscribe lines verbatim across otherwise
    * distinct pages. The word-soup corpus repeats nothing, so (the p1/t10
    * precedent) boilerplate lines are planted deterministically in both
    * engines over the same synthesized 8-word line structure.
    *
    * Scale shape: line counts are a line-keyed partial aggregation —
    * precisely the heavy boilerplate lines collapse to one row per task
    * before the exchange; the duplicated set is the count>K sliver, which
    * AQE broadcasts at runtime (not forced — it is corpus-derived, not
    * schema-bounded). The only corpus-sized exchanges are that count agg
    * (uniform keys) and the doc-keyed reassembly, whose kept-line election
    * is a null-guarded `collect_list(when(...))` INSIDE the aggregate —
    * never a `.where` over computed columns (the s6 lesson). At 100 TB the
    * documented swap is d8's composition: a Bloom of the duplicated set
    * probed inside a map-side `filter(lines, ...)` HOF (doc row in, doc
    * row out, no explode), with the exact verify join only on
    * Bloom-positive lines. */
  val DupLineMax = 2
  private val d13LineDedup = withOracle("d13_line_dedup",
    s"""WITH w AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |n AS (
       |  SELECT doc_id, ws,
       |         greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT), 1) AS nl FROM w),
       |l AS (
       |  SELECT doc_id,
       |         unnest(range(0, nl)) AS i,
       |         unnest(list_transform(range(0, nl),
       |           i -> CASE WHEN (doc_id * 31 + i * 17) % 6 = 0
       |                     THEN 'boiler plate notice ' || CAST((doc_id + i) % 3 AS VARCHAR)
       |                     ELSE array_to_string(ws[i*8+1 : i*8+8], ' ') END)) AS line
       |  FROM n),
       |c AS (SELECT line, count(*) AS cnt FROM l GROUP BY 1)
       |SELECT doc_id,
       |       count(*) AS n_lines,
       |       CAST(sum(CASE WHEN cnt > $DupLineMax THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       |       coalesce(array_to_string(list(line ORDER BY i) FILTER (WHERE cnt <= $DupLineMax),
       |                chr(10)), '') AS deduped
       |FROM l JOIN c USING (line)
       |GROUP BY doc_id""".stripMargin) { (s, dir) =>
    val ws = words(col("text"))
    val nl = greatest(floor((size(ws) + lit(7)) / lit(8)), lit(1)).cast("int")
    val mkLine = (i: Column) =>
      when((col("doc_id") * 31 + i * 17) % 6 === 0,
        concat(lit("boiler plate notice "), ((col("doc_id") + i) % 3).cast("string")))
      .otherwise(concat_ws(" ", slice(ws, i * 8 + 1, lit(8))))
    lineDedupOf(Tables(s, dir, "documents")
      .select(col("doc_id"), transform(sequence(lit(0), nl - 1), mkLine).as("lines")))
  }

  /** d13's count→prune→reassemble over any (doc_id, lines array<string>)
    * frame — frame-parameterized so a caller with REAL multi-line text
    * splits on '\n' instead of the gate's synthesized structure. */
  def lineDedupOf(docLines: DataFrame, dupLineMax: Long = DupLineMax): DataFrame = {
    // r17 (guide §1.2): the exploded (doc_id, i, line) frame feeds BOTH
    // the corpus-wide count and the reassembly join — naively composed,
    // `docLines` (here: tokenize + line synthesis) evaluates twice in one
    // plan (the before-plan shows two full scan+projection subtrees).
    // localCheckpoint materializes the explode ONCE; both consumers read
    // the checkpoint. At 100 TB this is the line table a real pipeline
    // lands anyway (the streaming variant's base index IS that table);
    // the r8-measured "positions-only" alternative (3rd evaluation) stays
    // rejected — this is the opposite move, 2 evaluations → 1.
    val exploded = docLines
      .select(col("doc_id"), posexplode(col("lines")).as(Seq("i", "line")))
      .localCheckpoint(false)
    lineDedupExploded(exploded,
      exploded.groupBy("line").agg(count(lit(1)).as("cnt")), dupLineMax)
  }

  /** The accumulated (line, cnt) index for [[lineDedupIncremental]] — the
    * base-side state a snapshot-over-snapshot pipeline maintains (and the
    * streaming base table Compact-able like the near-dup base). */
  def lineCountsOf(docLines: DataFrame): DataFrame =
    docLines.select(posexplode(col("lines")).as(Seq("i", "line")))
      .groupBy("line").agg(count(lit(1)).as("cnt"))

  /** Incremental d13 for daily ingest: dedup the NEW batch against the
    * combined line counts of the accumulated base index plus the batch
    * itself, without ever re-exploding base documents. The base travels
    * as its (line, cnt) index (the d9 move: a base reduced to the
    * aggregate the decision needs), so each ingest pays O(batch lines +
    * base-index rows touched) — the combined count is a union of the
    * index with the batch's own partial counts, and only batch documents
    * are reassembled. Equality with the full recompute restricted to
    * batch docs is pinned in ExtSpec. */
  def lineDedupIncremental(baseCounts: DataFrame, newDocLines: DataFrame,
      dupLineMax: Long = DupLineMax): DataFrame = {
    val combined = lineCountsOf(newDocLines)
      .unionByName(baseCounts)
      .groupBy("line").agg(sum(col("cnt")).as("cnt"))
    lineDedupAgainst(newDocLines, combined, dupLineMax)
  }

  /** Shared tail: mark lines duplicated per `counts`, reassemble keepers.
    * The dup set is the count>K sliver (AQE broadcasts it at runtime);
    * kept-line election is a null-guarded collect_list INSIDE the
    * aggregate — never a .where over computed columns (the s6 lesson).
    *
    * Shape note (r8, measured): a "positions-only" reassembly — inner-join
    * the dup sliver, aggregate integer positions per doc, HOF-filter the
    * original arrays map-side — replaces this text-carrying doc_id
    * exchange with a sliver-sized one, but needs a THIRD evaluation of
    * `docLines`; with the gate's computed line arrays that recompute cost
    * exceeded the exchange saving (2.26 s → 3.04 s at sf0.1), so the
    * one-pass aggregate stays. The trade flips only when `docLines` is a
    * cheap projection AND the corpus text dwarfs the position sliver —
    * revisit against a real multi-line corpus, not the synthesized one. */
  private def lineDedupAgainst(docLines: DataFrame, counts: DataFrame,
      dupLineMax: Long): DataFrame =
    lineDedupExploded(
      docLines.select(col("doc_id"), posexplode(col("lines")).as(Seq("i", "line"))),
      counts, dupLineMax)

  /** [[lineDedupAgainst]] over an already-exploded (doc_id, i, line)
    * frame (r17) — lets [[lineDedupOf]] share one explode between count
    * and reassembly. */
  private def lineDedupExploded(exploded: DataFrame, counts: DataFrame,
      dupLineMax: Long): DataFrame = {
    val dup = counts.where(col("cnt") > dupLineMax)
    exploded.join(dup, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("cnt").isNotNull, 1L).otherwise(0L)).as("n_dup_lines"),
        array_join(
          transform(
            array_sort(collect_list(when(col("cnt").isNull,
              struct(col("i"), col("line"))))),
            _.getField("line")),
          "\n").as("deduped"))
  }

  /** Quality-canonical election over an existing keep-list: within each
    * near-dup family, the CANONICAL document is the best-`quality` member
    * (ties → lowest doc_id) — the policy production dedup actually ships
    * (keep the longest / highest-scored copy), where [[keepList]]'s
    * min-id keeper is only a stable component LABEL. A post-pass over
    * (doc_id, keep_id): one family-keyed partial-agg argmax via a struct
    * max — no window, no sort, each task contributes ≤ 1 row per family
    * before the exchange. `quality` = any (doc_id, q) frame — length,
    * t2's score, qc1's classifier output. */
  def canonicalByQuality(keepers: DataFrame, quality: DataFrame): DataFrame = {
    val best = keepers.join(quality, "doc_id")
      .groupBy("keep_id")
      // struct max: highest q first; among ties, highest -doc_id = lowest id
      .agg(max(struct(col("q"), (-col("doc_id")).as("nid"),
        col("doc_id").as("id"))).as("b"))
      .select(col("keep_id"), col("b.id").as("canonical_id"))
    keepers.join(best, "keep_id")
      .select(col("doc_id"), col("keep_id"), col("canonical_id"))
  }

  /** D14: d6's election with the production keep policy — longest member
    * canonical. Embeds the exact pair set as its oracle anchor (d6's
    * arrangement; the scale path feeds LSH pairs), bench-excluded with
    * it. The oracle states the argmax as a window rank; the Spark side is
    * the partial-agg struct max in [[canonicalByQuality]]. */
  private val d14Canonical = withOracle("d14_canonical_quality",
    s"""$keepListCtes,
       |q AS (SELECT k.doc_id, k.keep_id, length(d2.text) AS q
       |      FROM k JOIN documents d2 USING (doc_id)),
       |r AS (SELECT keep_id, doc_id AS canonical_id,
       |             row_number() OVER (PARTITION BY keep_id
       |                                ORDER BY q DESC, doc_id) AS rn
       |      FROM q)
       |SELECT q.doc_id, q.keep_id, r.canonical_id
       |FROM q JOIN r ON q.keep_id = r.keep_id AND r.rn = 1""".stripMargin) {
    (s, dir) =>
      val docs = Tables(s, dir, "documents")
      canonicalByQuality(
        keepList(exactPairs(s, dir), docs),
        docs.select(col("doc_id"), length(col("text")).as("q")))
  }

  /** sem1's ORACLE-CHECKED companion: the KMeans cells are learned, but
    * the keeper election over the within-cell threshold pairs has an
    * exact contract —
    *   - the keep map is TOTAL and single-valued over the corpus;
    *   - keepers are component minima (keep_id ≤ vec_id) and fixpoints
    *     (keep(keep(v)) = keep(v));
    *   - every threshold pair's endpoints share a keeper (edges never
    *     cross families — connected components' defining property);
    *   - each k-member family has ≥ k−1 internal edges (a family can't
    *     be the union of disconnected pieces without the edge budget);
    *   - vectors with no incident pair keep themselves.
    * Reduced to values DuckDB derives from `embeddings` alone; the
    * ≡-d5 equality anchor stays in ExtSpec. */
  private val sem1Invariants = withOracle("sem1_cluster_invariants",
    """SELECT CAST(count(*) AS BIGINT) AS n_vecs,
      |       TRUE AS mapping_total,
      |       TRUE AS keeper_is_min_id,
      |       TRUE AS keepers_are_fixpoints,
      |       TRUE AS edges_within_families,
      |       TRUE AS families_minimally_connected,
      |       TRUE AS singletons_keep_themselves
      |FROM embeddings""".stripMargin) { (s, dir) =>
    val pairs = semDedupPairs(s, dir).localCheckpoint(false)
    val keep = sem1SemDedup.fn(s, dir).localCheckpoint(false)
    val base = keep.agg(count(lit(1)).as("n_vecs"),
      (countDistinct(col("vec_id")) === count(lit(1))).as("mapping_total"),
      every(col("keep_id") <= col("vec_id")).as("keeper_is_min_id"))
    val fix = keep
      .join(keep.select(col("vec_id").as("v2"), col("keep_id").as("k2")),
        col("keep_id") === col("v2"))
      .agg(every(col("k2") === col("keep_id")).as("keepers_are_fixpoints"))
    val edges = pairs
      .join(keep.select(col("vec_id").as("doc_a"), col("keep_id").as("ka")), "doc_a")
      .join(keep.select(col("vec_id").as("doc_b"), col("keep_id").as("kb")), "doc_b")
      .agg(every(col("ka") === col("kb")).as("edges_within_families"))
    val famSizes = keep.groupBy("keep_id").agg(count(lit(1)).as("k"))
    val famEdges = pairs
      .join(keep.select(col("vec_id").as("doc_a"), col("keep_id")), "doc_a")
      .groupBy("keep_id").agg(count(lit(1)).as("p"))
    val spanning = famSizes.join(famEdges, Seq("keep_id"), "left")
      .agg(every(col("k") === 1 || coalesce(col("p"), lit(0L)) >= col("k") - 1)
        .as("families_minimally_connected"))
    val touched = pairs.select(col("doc_a").as("vec_id"))
      .union(pairs.select(col("doc_b"))).distinct()
    val singles = keep.join(touched, Seq("vec_id"), "left_anti")
      .agg(every(col("keep_id") === col("vec_id")).as("singletons_keep_themselves"))
    base.crossJoin(broadcast(fix)).crossJoin(broadcast(edges))
      .crossJoin(broadcast(spanning)).crossJoin(broadcast(singles))
  }

  val all: Seq[QueryDef] =
    Seq(d1Exact, d2Minhash, d3Jaccard, d4Simhash, d5Embed, d6KeepList, d7Contamination,
      d8ContaminationBloom, d9Incremental, d10Substring, d11Coverage, d12Scrub,
      d13LineDedup, d14Canonical, d15FuzzyDecontam, d16DupHistogram, sem1SemDedup,
      sem1Invariants)
}
