package graft.queries

import graft.ext.TextAnalysis._
import graft.ext.extfunctions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Ranked-retrieval operators over the `documents` table — the search side
  * of a training-data pipeline: BM25 scoring (decontamination-by-retrieval,
  * "find the corpus docs closest to an eval question" uses exactly this) and
  * inverted-index construction (the artifact that serves it at scale).
  *
  * Scale shapes:
  *  - bm1 never builds an index or explodes tokens: per-doc term frequencies
  *    for the bounded query-term set are map-only array ops inside
  *    whole-stage codegen; the corpus statistics BM25 needs (N, avgdl, per-
  *    term document frequencies) are ONE bounded global aggregate whose
  *    1-row result broadcasts back; scoring is map-side and the top-k is
  *    TakeOrderedAndProject (per-partition heaps, k rows per task to the
  *    driver). Total exchange: the stats partials + k·tasks rows.
  *  - ii1 is the index build: per-doc DISTINCT terms are computed map-side
  *    (array_distinct before the explode — no (doc,term) dedup shuffle),
  *    and the single vocabulary-keyed exchange carries bounded partials:
  *    a count and a [[graft.ext.TopK.BottomKAgg]] page of at most
  *    [[RetrievalQueries.PostingsPage]] doc ids per term per task. Full
  *    postings lists for head terms (df ≈ N) never ride an exchange — at
  *    100 TB you shard pages by (term, page_no) with successive bottom-k
  *    passes or a range-partitioned write, same bounded-partial principle.
  */
object RetrievalQueries {

  import QueryDef._

  /** Fixed retrieval query — deterministic so both engines rank the same
    * request; the operator is parametric in real use. */
  private[graft] val Bm25Terms = Seq("spark", "join", "window")
  private val Bm25TopK = 20
  private val PostingsPage = 100
  private val PostingsTerms = 30

  /** BM25 (Robertson et al., Okapi TREC-3 1994; the Lucene `1 +` idf
    * variant that keeps scores positive): k1 = 1.2, b = 0.75, written as
    * `2.2 = k1+1` / `0.25 = 1-b` on both engines so the FP expression
    * trees match term for term; the three per-term contributions sum in
    * pinned left-to-right order. Ranking uses the unrounded score
    * (doc_id tie-break); the emitted score is rounded to 4 decimals. */
  /** The d/tf/st/sc CTE chain ending in `sc(doc_id, s)` — the exact-BM25
    * scoring shared by [[bm25Sql]] and the hybrid-fusion oracle
    * ([[HybridQueries]]), factored so the two gates can never drift on the
    * score expression. */
  private[graft] def bm25ScoreCtes: String = {
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE) AS tf${i + 1}"
    }.mkString(",\n       |         ")
    val dfCols = Bm25Terms.indices.map { i =>
      s"CAST(sum(CASE WHEN tf${i + 1}>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df${i + 1}"
    }.mkString(",\n       |         ")
    val scoreTerms = Bm25Terms.indices.map { i =>
      s"ln(1+(n-df${i + 1}+0.5)/(df${i + 1}+0.5)) * (tf${i + 1}*2.2)/(tf${i + 1} + 1.2*(0.25 + 0.75*dl/avgdl))"
    }.mkString("\n       |    + ")
    s"""d AS (
       |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |tf AS (
       |  SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
       |         $tfCols
       |  FROM d),
       |st AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl,
       |         $dfCols
       |  FROM tf),
       |sc AS (
       |  SELECT doc_id,
       |    $scoreTerms AS s
       |  FROM tf, st)""".stripMargin
  }

  private def bm25Sql: String =
    s"""WITH $bm25ScoreCtes,
       |r AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
       |SELECT doc_id, round(s,4) AS bm25 FROM r WHERE rn <= $Bm25TopK""".stripMargin

  /** BM25 top-k of `docs` (doc_id, text) for `terms` — see object doc for
    * the scale shape. Frame-parametric: any (doc_id, text) corpus. */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame =
    bm25ScoredDocs(docs, terms)
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("s"), 4).as("bm25"))

  /** bm1's map-only scoring frame without the final top-k: every doc of
    * `docs` scored as `(doc_id, s)` — shared by [[bm25TopK]] and the
    * hybrid fusion's lexical ranker ([[HybridQueries.hybridRrfTopK]]), so
    * the fused gate ranks with bit-identical scores to bm1's. */
  private[graft] def bm25ScoredDocs(docs: org.apache.spark.sql.DataFrame,
      terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    val tfCols: Seq[Column] =
      col("doc_id") +: size(col("ws")).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), x => x === t)).cast("double").as(s"tf${i + 1}")
        }
    // tf feeds both the stats aggregate and the scoring pass: checkpoint
    // the tiny (doc_id, dl, tf…) frame so the text column is tokenized
    // ONCE — at corpus scale re-scanning raw text for the second pass
    // costs far more than materializing ~40 B/doc of frequencies
    val tf = docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(tfCols: _*)
      .localCheckpoint(false)
    val dfAggs =
      avg(col("dl")).as("avgdl") +:
        terms.indices.map(i =>
          sum((col(s"tf${i + 1}") > 0).cast("double")).as(s"df${i + 1}"))
    val st = tf.agg(count(lit(1)).cast("double").as("n"), dfAggs: _*)
    val score = terms.indices.map { i =>
      val tfc = col(s"tf${i + 1}")
      val dfc = col(s"df${i + 1}")
      log(lit(1) + (col("n") - dfc + lit(0.5)) / (dfc + lit(0.5))) *
        (tfc * lit(2.2)) /
        (tfc + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
    }.reduce(_ + _)
    tf.join(broadcast(st))
      .select(col("doc_id"), score.as("s"))
  }

  /** Full postings index of `docs`: every term's df + first page. Also the
    * per-micro-batch delta of
    * [[graft.streaming.DocStream.startPostingsSink]]. */
  def postingsIndexOf(docs: org.apache.spark.sql.DataFrame,
      page: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), bottom_k(col("doc_id"), page).as("postings"))

  /** Head-term postings pages of `docs` — ii1's kernel. */
  def postingsPages(docs: org.apache.spark.sql.DataFrame, page: Int,
      nTerms: Int): org.apache.spark.sql.DataFrame =
    postingsIndexOf(docs, page)
      .orderBy(col("df").desc, col("term"))
      .limit(nTerms)

  /** Slice a (term, df, postings) frame's doc-id lists into fixed-size
    * pages: one (term, df, page_no, postings) row per page, page_no
    * ascending, ids staying globally sorted across pages (page p holds
    * ranks [p·page, (p+1)·page)) — the skip-list contract an intersecting
    * reader needs. Map-only. */
  def paginatePostings(index: org.apache.spark.sql.DataFrame,
      page: Int): org.apache.spark.sql.DataFrame =
    index
      .select(col("term"), col("df"),
        posexplode(transform(
          sequence(lit(0), floor((size(col("postings")) - 1) / page).cast("int")),
          i => slice(col("postings"), i * page + 1, lit(page))))
          .as(Seq("page_no", "postings")))
      .select(col("term"), col("df"), col("page_no").cast("long").as("page_no"),
        col("postings"))

  /** Multi-page postings build — the (term, page_no) sharding SCALE.md
    * names as the rung past ii1's single bounded page: per term, the
    * `maxPages` doc-id pages covering its `page · maxPages` smallest ids.
    * Same plan shape as [[postingsIndexOf]] — ONE vocabulary-keyed
    * exchange whose partials are bounded by page·maxPages ids per term
    * per task (bottom-k at the widened capacity), paginated map-side
    * after the merge. A FULL index (maxPages unbounded) is a different
    * regime: the exchange is inherently corpus-sized there, so it becomes
    * a range-partitioned (term, doc_id) write instead of an aggregate —
    * this operator is the bounded-page server shard builder. */
  def postingsShards(docs: org.apache.spark.sql.DataFrame, page: Int,
      maxPages: Int): org.apache.spark.sql.DataFrame =
    paginatePostings(postingsIndexOf(docs, page * maxPages), page)

  /** FULL inverted index write — the unbounded regime past
    * [[postingsShards]]' bounded pages: every (term, doc_id) pair lands
    * range-partitioned by term and sorted by (term, doc_id) within each
    * shard. Here the exchange is inherently corpus-sized (the index IS
    * the corpus's distinct pairs), so the right shape is a
    * repartitionByRange WRITE, not an aggregate: term-range shards give
    * a serving reader partition pruning by term, and the within-shard
    * sort gives parquet page-index pruning plus ready-merged posting
    * runs. One exchange, no per-term state, no driver involvement. */
  def fullIndexWrite(docs: org.apache.spark.sql.DataFrame, path: String,
      shards: Int): Unit =
    docs
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .repartitionByRange(shards, col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.page.row.count.limit", 4096)
      .parquet(path)

  /** FULL index write, SCORED layout — [[fullIndexWrite]]'s range-
    * partitioned term discipline extended with the columns ranked
    * retrieval needs so BM25 serves from the artifact alone. VERSIONED
    * snapshot tables under `path`, named by an `_INDEX_SUCCESS` marker
    * ([[graft.ext.ArtifactCommit]] — same zero-downtime contract as the
    * ANN index: mutators build beside the live tables and flip the
    * marker last, readers are never taken offline, mutations serialize
    * through the ownership-token lock):
    *   postings/v=N/g=G/ (term, doc_id, dl, tf, rank) — tf per pair,
    *              the doc-length norm DENORMALIZED into the posting row
    *              (Lucene's norms are a doc-keyed side table;
    *              denormalizing removes the corpus-sized norms join from
    *              every serve — the posting row grows 8 bytes, the query
    *              loses an exchange), plus the per-term IMPACT rank
    *              [[writePostingsGen]] sorts the files by — the layout
    *              that lets [[bm25FromIndexCapped]] read only each
    *              term's highest-impact prefix
    *   stats/v=N/ one row (n, sum_dl, avgdl) — the corpus scalars BM25
    *              needs, precomputed at build so serving reads zero
    *              corpus-sized tables; sum_dl stored exactly so appends
    *              merge without avg-of-avgs
    *   dfs/v=N/   (term, df) — the per-term document frequency SIDECAR
    *              (r17): df is a build-time constant of the snapshot
    *              (one row per vocabulary term), term-range-sharded and
    *              term-sorted so a query's bounded `isin` reads ≤|terms|
    *              rows. Without it the two-stage serve recomputed true
    *              df per query by scanning the FULL term runs — a
    *              stop-word-grade head term made every query pay a
    *              corpus-sized posting-run scan for a number the build
    *              already knew (the one r16 `weak`). Appends merge the
    *              sidecar BY SUM (exactly like sum_dl — valid under the
    *              no-duplicate-doc append contract); drift against the
    *              postings is impossible to ignore because the suite
    *              pins sidecar ≡ recount after build/append/compact.
    * Build cost: one vocabulary-keyed exchange (the groupBy's partials
    * combine map-side; dl rides the key as a doc_id-functional column),
    * the rank window on the same key, the range-partition write, one
    * stats pass, and a term-column-only re-read of the just-written
    * postings for the df sidecar (index-sized, one RLE'd column — never
    * a second corpus tokenization). */
  def fullIndexWriteScored(docs: org.apache.spark.sql.DataFrame, path: String,
      shards: Int): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val token = graft.ext.ArtifactCommit.acquireLock(spark, path,
      what = "scored BM25 index")
    try {
      val prior = graft.ext.ArtifactCommit.readMarker(spark, path)
      val tv = prior.map(_("v").toInt + 1).getOrElse(0)
      // stats FIRST — the postings build needs avgdl for the impact rank;
      // sum_dl is stored exactly so appends merge without avg-of-avgs
      val st = docs
        .select(size(words(col("text"))).cast("double").as("dl"))
        .agg(count(lit(1)).cast("double").as("n"),
          coalesce(sum(col("dl")), lit(0.0)).as("sum_dl")).head()
      val (n, sumDl) = (st.getDouble(0), st.getDouble(1))
      val avgdl = if (n > 0) sumDl / n else 0.0
      Seq((n, sumDl, avgdl)).toDF("n", "sum_dl", "avgdl")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/stats/v=$tv")
      writePostingsGen(docs, s"$path/postings/v=$tv/g=0", shards, avgdl)
      // df sidecar: count the just-written postings' term column (df =
      // the term's posting-row count by construction — one row per
      // (term, doc_id) pair)
      writeDfs(spark.read.parquet(s"$path/postings/v=$tv/g=0")
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df")),
        s"$path/dfs/v=$tv", shards)
      graft.ext.ArtifactCommit.verifyLock(spark, path, token, "scored BM25 index")
      graft.ext.ArtifactCommit.writeMarker(spark, path, Map(
        "v" -> tv.toString,
        "postings" -> s"postings/v=$tv/g=0",
        "stats" -> s"stats/v=$tv",
        "dfs" -> s"dfs/v=$tv"))
      // retention: keep the new snapshot + the one it replaced (in-flight
      // readers), sweep anything older including crashed-mutation orphans
      val keep = Set(s"postings/v=$tv", s"stats/v=$tv", s"dfs/v=$tv") ++
        prior.toSeq.flatMap(p => p("postings").split(',').toSeq :+ p("stats")).toSet ++
        prior.flatMap(_.get("dfs")).toSet
      graft.ext.ArtifactCommit.sweepVersions(spark, path,
        Seq("postings", "stats", "dfs"), keep)
    } finally graft.ext.ArtifactCommit.releaseLock(spark, path, token)
  }

  /** One postings generation: (term, doc_id, dl, tf, rank) where `rank`
    * is the term's IMPACT order — 1 = the posting contributing the most
    * BM25 mass for its term (idf is term-constant, so ordering by the tf
    * part `tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))` IS the exact per-term
    * score order; doc_id tie-break). Files are range-sharded and sorted
    * by (term, rank), so a `rank <= cap` predicate skips every page past
    * the cap via parquet page indexes — the WAND/impact-ordering layout
    * that lets [[bm25FromIndexCapped]] read only each query term's
    * highest-impact prefix. The rank window is one term-keyed exchange
    * at BUILD time (the same key the groupBy already shuffles on; a
    * stop-word-grade head term makes a big partition — acceptable for a
    * write-side one-off, and the rebuild cadence re-coalesces). */
  private def writePostingsGen(docs: org.apache.spark.sql.DataFrame,
      genPath: String, shards: Int, avgdl: Double): Unit =
    writeRankedPairs(docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
        explode(col("ws")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf")),
      genPath, shards, avgdl)

  /** Rank + layout pass shared by [[writePostingsGen]] and
    * [[compactScoredIndex]] (one definition so a compaction can never
    * drift from the build's impact order): expects (term, doc_id, dl,
    * tf), adds the per-term impact `rank` against `avgdl`, and writes
    * the (term, rank)-sorted range-sharded layout the capped serve's
    * page skips depend on. */
  private def writeRankedPairs(pairs: org.apache.spark.sql.DataFrame,
      genPath: String, shards: Int, avgdl: Double): Unit = {
    val safeAvg = if (avgdl > 0) avgdl else 1.0
    val impact = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(safeAvg)))
    pairs
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("term")
          .orderBy(impact.desc, col("doc_id"))).cast("long"))
      .repartitionByRange(shards, col("term"), col("rank"))
      .sortWithinPartitions("term", "rank")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.page.row.count.limit", 4096)
      .parquet(genPath)
  }

  /** df-sidecar layout pass shared by build, append, and legacy-marker
    * migration: (term, df) term-range-sharded and term-sorted, so a
    * serve's bounded `isin` prunes shards and skips pages exactly like
    * the postings read — the sidecar is vocabulary-sized (one row per
    * term, ≪ the postings), so it takes a quarter of the postings'
    * shard count. */
  private def writeDfs(dfs: org.apache.spark.sql.DataFrame,
      outPath: String, shards: Int): Unit =
    dfs
      .repartitionByRange(math.max(1, shards / 4), col("term"))
      .sortWithinPartitions("term")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("compression", "zstd")
      .option("parquet.page.row.count.limit", 4096)
      .parquet(outPath)

  /** Generation compaction for a [[fullIndexWriteScored]] artifact — the
    * re-coalesce rung BETWEEN appends and a full rebuild: each
    * [[fullIndexAppendScored]] leaves a `g=G` dir that every serve
    * unions (term pruning still holds per generation, but file handles,
    * footers, and the capped serve's per-gen prefix all scale with G).
    * A full rebuild re-tokenizes the corpus; compaction instead rewrites
    * ONLY the index itself: the live generations' (term, doc_id, dl, tf)
    * rows — already exact — re-rank in ONE term-keyed window against the
    * live stats' exact merged avgdl (so the impact order becomes GLOBAL
    * again: the capped serve's prefix returns to the true per-term
    * top-impact set instead of the per-gen superset) and land as a
    * single `g=0` under `v=N+1`. Stats are untouched (already exact by
    * the sum_dl merge discipline). Same zero-downtime contract as every
    * mutation: build beside the live tables, ONE marker flip, readers
    * never offline, lock + pre-flip token re-verify; a crash leaves the
    * old snapshot live and an orphan dir for the next sweep. Cost: one
    * index-sized exchange (the window's term key) + the range-partition
    * write — no corpus scan. No-op on a single-generation snapshot. */
  def compactScoredIndex(spark: SparkSession, path: String, shards: Int,
      beforeCommit: () => Unit = () => ()): Unit = {
    val token = graft.ext.ArtifactCommit.acquireLock(spark, path,
      what = "scored BM25 index")
    try {
      val snap = scoredSnap(spark, path)
      val gens = snap("postings").split(',').toSeq
      if (gens.size <= 1) return // already one generation: nothing to do
      val tv = snap("v").toInt + 1
      val avgdl = spark.read.parquet(s"$path/${snap("stats")}")
        .select("avgdl").head().getDouble(0)
      val merged = gens.map(d => spark.read.parquet(s"$path/$d"))
        .reduce(_.unionByName(_))
        .select(col("term"), col("doc_id"), col("dl"), col("tf"))
      writeRankedPairs(merged, s"$path/postings/v=$tv/g=0", shards, avgdl)
      // df sidecar: generation-invariant (compaction merges rows, never
      // adds or drops them), so the live sidecar carries forward exactly
      // like stats; a legacy pre-sidecar snapshot migrates here — derive
      // it from the compacted postings' term column (index-sized)
      val dfsDir = snap.get("dfs").getOrElse {
        writeDfs(spark.read.parquet(s"$path/postings/v=$tv/g=0")
          .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df")),
          s"$path/dfs/v=$tv", shards)
        s"dfs/v=$tv"
      }
      beforeCommit()
      graft.ext.ArtifactCommit.verifyLock(spark, path, token, "scored BM25 index")
      graft.ext.ArtifactCommit.writeMarker(spark, path, Map(
        "v" -> tv.toString,
        "postings" -> s"postings/v=$tv/g=0",
        "stats" -> snap("stats"),
        "dfs" -> dfsDir))
      // retention: the new postings version + the prior snapshot's (for
      // in-flight readers mid-union) + the still-live stats/dfs dirs
      val keep = Set(s"postings/v=$tv", snap("stats"), dfsDir) ++ gens
      graft.ext.ArtifactCommit.sweepVersions(spark, path,
        Seq("postings", "stats", "dfs"), keep)
    } finally graft.ext.ArtifactCommit.releaseLock(spark, path, token)
  }

  /** Incremental maintenance of a [[fullIndexWriteScored]] artifact — the
    * postings sink's discipline for the FULL regime, under the
    * zero-downtime commit protocol: a new batch's (term, doc_id, dl, tf,
    * rank) rows land as a NEW generation dir beside the live ones (term
    * pruning holds per generation; a periodic [[fullIndexWriteScored]]
    * rebuild is the compaction that re-coalesces them), the stats merge
    * EXACTLY — `sum_dl` is stored precisely for this, so the merged
    * avgdl is (Σ old + Σ batch)/(n old + n batch), never a lossy
    * avg-of-avgs — into a FRESH versioned dir, and ONE atomic marker
    * flip publishes postings + stats together: a reader never sees new
    * postings against stale (n, avgdl), or a stats-less window, and a
    * crash anywhere leaves the old snapshot live. Mutations serialize
    * through the ownership-token lock (two concurrent appenders can't
    * lose an update — the second fails fast and retries after the
    * first's flip). Serving needs no change: df already derives from the
    * pruned scan, so appended postings are picked up on the next query.
    * Callers must not append a doc_id already indexed (the store's dedup
    * discipline applies upstream). */
  def fullIndexAppendScored(docs: org.apache.spark.sql.DataFrame,
      path: String, shards: Int): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    val token = graft.ext.ArtifactCommit.acquireLock(spark, path,
      what = "scored BM25 index")
    try {
      val snap = graft.ext.ArtifactCommit.readMarker(spark, path).getOrElse(
        throw new IllegalStateException(
          s"scored BM25 index at $path is not committed — nothing to append to"))
      val old = spark.read.parquet(s"$path/${snap("stats")}")
        .select("n", "sum_dl").head()
      val b = docs
        .select(size(words(col("text"))).cast("double").as("dl"))
        .agg(count(lit(1)).cast("double").as("n"),
          coalesce(sum(col("dl")), lit(0.0)).as("sum_dl")).head()
      if (b.getDouble(0) == 0) return // empty batch: the snapshot stands
      val n = old.getDouble(0) + b.getDouble(0)
      val sumDl = old.getDouble(1) + b.getDouble(1)
      val avgdl = if (n > 0) sumDl / n else 0.0
      val tv = snap("v").toInt + 1
      // batch postings land as a NEW generation dir under the live
      // postings version (gen = 1 + the max on DISK, so a crashed
      // append's orphan is never half-reused); gen-LOCAL impact ranks are
      // computed against the MERGED avgdl — a valid impact order per gen;
      // the capped serve reads each gen's prefix (a superset of the
      // global prefix) and the rebuild cadence re-coalesces to one gen
      val postRoot = snap("postings").split(',').head.split("/g=")(0)
      val rootPath = new org.apache.hadoop.fs.Path(s"$path/$postRoot")
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val diskGens = (try fs.listStatus(rootPath) catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }).map(_.getPath.getName).filter(_.startsWith("g="))
        .map(_.stripPrefix("g=").toInt)
      val gen = (diskGens ++ snap("postings").split(',')
        .map(_.split("/g=")(1).toInt)).max + 1
      val genDir = s"$postRoot/g=$gen"
      writePostingsGen(docs, s"$path/$genDir", shards, avgdl)
      // merged stats to a FRESH versioned dir — never overwrite in place
      // (a reader racing an in-place Overwrite could see no stats at all)
      Seq((n, sumDl, avgdl)).toDF("n", "sum_dl", "avgdl")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/stats/v=$tv")
      // df sidecar merges BY SUM, exactly like sum_dl: the batch's dfs
      // (term column of the new gen) add to the live sidecar's — exact
      // under the no-duplicate-doc append contract. A legacy pre-sidecar
      // snapshot migrates here: its dfs derive once from the PRIOR live
      // generations (term-column-only scan), then the merge is the same.
      val batchDfs = spark.read.parquet(s"$path/$genDir")
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      val priorDfs = snap.get("dfs") match {
        case Some(d) => spark.read.parquet(s"$path/$d")
        case None => snap("postings").split(',').toSeq
          .map(d => spark.read.parquet(s"$path/$d")).reduce(_.unionByName(_))
          .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      }
      writeDfs(priorDfs.unionByName(batchDfs)
        .groupBy(col("term")).agg(sum(col("df")).as("df")),
        s"$path/dfs/v=$tv", shards)
      graft.ext.ArtifactCommit.verifyLock(spark, path, token, "scored BM25 index")
      // ONE atomic flip publishes postings + stats + dfs together: a
      // reader always sees a consistent (postings set, n, avgdl, dfs)
      // snapshot and a crash between the table writes leaves the OLD
      // snapshot live
      graft.ext.ArtifactCommit.writeMarker(spark, path, Map(
        "v" -> tv.toString,
        "postings" -> (snap("postings").split(',').toSeq :+ genDir).mkString(","),
        "stats" -> s"stats/v=$tv",
        "dfs" -> s"dfs/v=$tv"))
      val keep = Set(s"stats/v=$tv", snap("stats"), s"dfs/v=$tv") ++
        snap.get("dfs").toSet
      graft.ext.ArtifactCommit.sweepVersions(spark, path, Seq("stats", "dfs"), keep)
    } finally graft.ext.ArtifactCommit.releaseLock(spark, path, token)
  }

  /** True iff the scored index has a committed snapshot — stays true
    * through every append/rebuild (the versioned-marker contract). */
  def scoredIndexCommitted(spark: SparkSession, path: String): Boolean =
    graft.ext.ArtifactCommit.committed(spark, path)

  private def scoredSnap(spark: SparkSession, path: String): Map[String, String] =
    graft.ext.ArtifactCommit.readMarker(spark, path).getOrElse(
      throw new IllegalStateException(
        s"scored BM25 index at $path is not committed"))

  /** The live snapshot's postings — the UNION of its generation dirs
    * (term and rank predicates push through the Union into every
    * generation's scan). */
  private[graft] def readScoredPostings(spark: SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    val snap = scoredSnap(spark, path)
    snap("postings").split(',').toSeq
      .map(d => spark.read.parquet(s"$path/$d")).reduce(_.unionByName(_))
  }

  /** The live snapshot's 1-row (n, sum_dl, avgdl) stats table. */
  private[graft] def readScoredStats(spark: SparkSession,
      path: String): org.apache.spark.sql.DataFrame = {
    val snap = scoredSnap(spark, path)
    spark.read.parquet(s"$path/${snap("stats")}")
  }

  /** The live snapshot's (term, df) sidecar — None only for a legacy
    * pre-sidecar snapshot (any r17+ build/append/compact publishes one).
    * A query's bounded term `isin` against it reads ≤|terms| rows
    * (term-range shards prune, pages skip) — the O(1)-per-term df lookup
    * that replaced the two-stage serve's per-query full-run recount. */
  private[graft] def readScoredDfs(spark: SparkSession,
      path: String): Option[org.apache.spark.sql.DataFrame] =
    scoredSnap(spark, path).get("dfs")
      .map(d => spark.read.parquet(s"$path/$d"))

  /** Serve BM25 top-k from a [[fullIndexWriteScored]] artifact: the
    * bounded term `isin` pushes into the term-sorted parquet (range
    * shards prune, page indexes skip — PushedFilters pinned in
    * ToolsSpec), df per term comes from the pruned scan itself, the
    * 1-row stats artifact broadcasts in, and scoring + doc-keyed sum +
    * top-k run over candidate rows only (≤ Σ df of the query terms).
    * The corpus text is never touched — the serve's inputs are ~|terms|
    * posting runs and two scalars. Same score expression tree as
    * [[bm25Served]]/[[bm25TopK]], so all three are hash-identical
    * against bm1's oracle. */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame =
    bm25OverPostings(spark,
      readScoredPostings(spark, indexPath).where(col("term").isin(terms: _*)),
      readScoredStats(spark, indexPath), k)

  /** CAPPED serve — the WAND/impact-ordering rung: read only each query
    * term's `maxPostingsPerTerm` HIGHEST-IMPACT postings (the `rank`
    * predicate skips the tail at the parquet page level — the layout
    * [[writePostingsGen]] sorts for), then score exactly as
    * [[bm25FromIndex]]. Cap-vs-exactness contract: per-term df is
    * derived from the capped scan, i.e. min(df, cap), and docs ranked
    * past the cap for EVERY query term can't surface — so the answer is
    * EXACT whenever cap ≥ every query term's true df, and otherwise a
    * principled approximation that keeps each term's top-impact mass
    * (for a stop-word-grade head term this is the difference between a
    * corpus-sized read and a cap-sized one). Against appended
    * generations the cap applies per generation (gen-local ranks) — a
    * superset of the global prefix, still exact at generous caps.
    * MEASURED limit (r15, 10 M docs, SCALE.md §8): when the cap BINDS on
    * a stop-word-grade head term the prefix is structurally wrong
    * (top-20 overlap ≈ 0 at any cap, both corpora) — at binding caps
    * serve [[bm25FromIndexTwoStage]] instead, which completes the capped
    * candidate set with exact df/tf at a small multiple of this cost. */
  def bm25FromIndexCapped(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String], k: Int,
      maxPostingsPerTerm: Long): org.apache.spark.sql.DataFrame =
    bm25OverPostings(spark,
      readScoredPostings(spark, indexPath)
        .where(col("term").isin(terms: _*) &&
          col("rank") <= maxPostingsPerTerm),
      readScoredStats(spark, indexPath), k)

  /** TWO-STAGE capped serve — the shape the r15 10 M-doc measurement
    * (SCALE.md §8) demands when a cap BINDS on a
    * stop-word-grade head term: a hard per-term prefix structurally
    * cannot know which body-selected docs carry the head term's additive
    * mass (overlap ≈ 0 at ANY cap, on both measured corpora), so instead
    * of truncating the head term's mass away:
    *   stage 1 — CANDIDATES: the capped prefixes (rank ≤ cap per term,
    *     page-skipped exactly like [[bm25FromIndexCapped]]) vote the
    *     candidate doc set, ≤ |terms|·cap ids;
    *   stage 2 — EXACT COMPLETION: every candidate is scored with the
    *     TRUE df (a bounded `isin` read of the snapshot's (term, df)
    *     SIDECAR — ≤|terms| rows, never a posting-run scan; r16 recounted
    *     it from the full term runs per query, so a head term's serve
    *     cost scaled with its corpus-sized run for a number the build
    *     already knew) and its true tf for EVERY query term (the
    *     semi-join against the candidate set keeps candidate rows only),
    *     through the identical scoring tree.
    * The answer equals [[bm25FromIndex]] whenever the exact top-k docs
    * each carry at least one query term inside that term's capped prefix
    * — in particular whenever the cap clears every DISCRIMINATIVE term's
    * df, no matter how hard it binds on head terms (the case the plain
    * prefix serve gets structurally wrong; suite-pinned on a planted
    * head+tail corpus). Cost: the capped read + a ≤|terms|-row sidecar
    * read + a candidate-bounded completion — a small multiple of the
    * capped serve, far under the uncapped read's shuffle (the completion
    * scan reads the head run's columns but aggregates only candidate
    * rows). A legacy pre-sidecar snapshot falls back to the r16 recount
    * (still exact, just run-length-priced) until its next
    * append/compact/rebuild migrates it. This is the serve
    * [[bm25Serve]] dispatches to at binding caps; the plain
    * [[bm25FromIndexCapped]] remains the measurement rung and the
    * exact-at-generous-caps gate form. */
  def bm25FromIndexTwoStage(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String], k: Int,
      maxPostingsPerTerm: Long): org.apache.spark.sql.DataFrame = {
    val post = twoStageCompletionFrame(spark, indexPath, terms,
      maxPostingsPerTerm)
      .localCheckpoint(false) // candidate-bounded; feeds the scoring stage
    bm25Rank(post, trueDfsFrame(spark, indexPath, terms),
      readScoredStats(spark, indexPath), k)
  }

  /** TRUE (term, df) of `terms` in the live snapshot: ≤|terms| sidecar
    * rows, or — legacy pre-sidecar snapshot — a recount of the full
    * pruned term runs (still exact, run-length-priced until the
    * artifact's next mutation migrates it). */
  private def trueDfsFrame(spark: org.apache.spark.sql.SparkSession,
      indexPath: String,
      terms: Seq[String]): org.apache.spark.sql.DataFrame =
    readScoredDfs(spark, indexPath) match {
      case Some(sidecar) => sidecar.where(col("term").isin(terms: _*))
      case None => readScoredPostings(spark, indexPath)
        .where(col("term").isin(terms: _*))
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    }

  /** Candidate-id broadcast bound for the two-stage completion: the
    * voted candidate set is ≤ |terms|·cap ids (8 B each), so a 3-term
    * cap-10k query broadcasts ~240 KB — but a 20-term cap-1M query would
    * broadcast ~160 MB to every executor. Above this bound the semi-join
    * drops the broadcast HINT and lets the planner shuffle (AQE may
    * still broadcast at runtime if the ACTUAL distinct-candidate count
    * turns out small — the guard bounds the forced worst case, not the
    * optimizer). */
  private[graft] val TwoStageBroadcastMaxIds = 10000000L

  /** Stage-1 candidates + stage-2 tf completion of the two-stage serve,
    * pre-checkpoint (exposed for plan pins): capped prefixes (rank ≤ cap,
    * page-skipped) vote the candidate ids; the full pruned term runs
    * semi-join against them, broadcast only under
    * [[TwoStageBroadcastMaxIds]]. */
  private[graft] def twoStageCompletionFrame(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      terms: Seq[String],
      maxPostingsPerTerm: Long): org.apache.spark.sql.DataFrame =
    twoStageCompletionOver(readScoredPostings(spark, indexPath), terms,
      maxPostingsPerTerm)

  /** [[twoStageCompletionFrame]] over an already-resolved postings frame
    * (r17) — lets the certified serve's escalation loop resolve the
    * snapshot (marker read + parquet listing) ONCE instead of per
    * iteration. */
  private def twoStageCompletionOver(
      postings: org.apache.spark.sql.DataFrame, terms: Seq[String],
      maxPostingsPerTerm: Long): org.apache.spark.sql.DataFrame = {
    val all = postings.where(col("term").isin(terms: _*))
    val cands = all.where(col("rank") <= maxPostingsPerTerm)
      .select(col("doc_id")).distinct()
    val bounded = terms.size.toLong * maxPostingsPerTerm <= TwoStageBroadcastMaxIds
    all.join(if (bounded) broadcast(cands) else cands, Seq("doc_id"), "left_semi")
  }

  /** THE serve entry — picks the serve form from the cap and the
    * sidecar's true dfs (the r16 verdict's "caller decision" made
    * automatic): the cap BINDS when some query term's true df exceeds
    * it — there the plain prefix is structurally wrong (measured overlap
    * ≈ 0 on head+tail queries at any binding cap) and the two-stage
    * completion serves; at generous caps the plain capped serve is
    * already exact AND cheaper (no completion pass), so it serves. The
    * decision costs one ≤|terms|-row sidecar read — free relative to
    * either serve. A legacy pre-sidecar snapshot dispatches to two-stage
    * unconditionally (exact in both regimes; the conservative choice
    * when the df needed to decide is itself run-length-priced). */
  def bm25Serve(spark: org.apache.spark.sql.SparkSession, indexPath: String,
      terms: Seq[String], k: Int,
      maxPostingsPerTerm: Long): org.apache.spark.sql.DataFrame =
    if (capBinds(spark, indexPath, terms, maxPostingsPerTerm))
      bm25FromIndexTwoStage(spark, indexPath, terms, k, maxPostingsPerTerm)
    else bm25FromIndexCapped(spark, indexPath, terms, k, maxPostingsPerTerm)

  /** True iff `cap` binds on any of `terms` (df > cap) in the live
    * snapshot — [[bm25Serve]]'s dispatch predicate. Legacy pre-sidecar
    * snapshots report true (see [[bm25Serve]]). */
  private[graft] def capBinds(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String], cap: Long): Boolean =
    readScoredDfs(spark, indexPath) match {
      case Some(sidecar) => !sidecar
        .where(col("term").isin(terms: _*) && col("df") > lit(cap.toDouble))
        .isEmpty
      case None => true
    }

  /** CERTIFIED adaptive serve — the max-score/WAND upper-bound rung past
    * [[bm25FromIndexTwoStage]] (whose answer is exact in the measured
    * regimes but carries no PROOF): returns the exact top-k with a
    * certificate, escalating the cap only when the certificate fails.
    *
    * The impact-ranked layout makes the bound free: within one
    * generation a term's postings descend in impact (the exact per-term
    * score order, idf being term-constant), so any doc OUTSIDE term t's
    * rank≤cap prefix contributes at most idf_t · impact of t's
    * rank = cap+1 posting in its generation — and a doc outside EVERY
    * query term's prefix (the only docs the two-stage candidate set can
    * miss) scores at most UB = Σ_t idf_t · m_t, where m_t is the max of
    * that boundary impact across generations (no rank = cap+1 row means
    * the prefix covered the whole run: m_t = 0). The per-iteration read
    * adds one row per (term, generation) to the capped read — the
    * boundary rows ride the same page-skipped rank predicate.
    *
    * If the k-th candidate's EXACT score (two-stage completion, sidecar
    * df) strictly exceeds UB, no non-candidate can enter the top-k —
    * the answer is certified globally exact. Otherwise the cap
    * escalates ×8 (a driver loop of ≤ log₈(max df / cap) bounded,
    * distributed iterations — the WAND-literature pivot-advance
    * recast as whole-stage batch rounds instead of a sequential
    * document-at-a-time cursor, which would serialize a 1000-executor
    * cluster through one traversal); at cap ≥ every query term's df the
    * capped read IS the full read and the plain serve is exact by
    * construction. Cost in the common case: one two-stage serve + a
    * ≤|terms|-row bound check. (Reference has no text retrieval at all —
    * this rung is pure extension; anchor: Broder et al., WAND, CIKM'03;
    * Ding & Suel, block-max WAND, SIGIR'11.) */
  def bm25ServeCertified(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String], k: Int,
      initialCap: Long): org.apache.spark.sql.DataFrame =
    bm25ServeCertifiedTrace(spark, indexPath, terms, k, initialCap)._1

  /** [[bm25ServeCertified]] plus its escalation trace (the caps tried,
    * in order) — exposed for suite pins on WHEN the certificate
    * fires. */
  private[graft] def bm25ServeCertifiedTrace(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      terms: Seq[String], k: Int,
      initialCap: Long): (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    require(initialCap >= 1, s"initialCap must be >= 1, got $initialCap")
    import spark.implicits._
    // r17 (guide §5, driver): resolve the snapshot ONCE — one postings
    // frame reused by every iteration's completion + boundary read (the
    // old loop re-read the marker and re-listed parquet per use), and the
    // 1-row stats / ≤|terms|-row dfs — already collected for the bound
    // arithmetic — re-enter the scoring joins as literal frames instead
    // of fresh artifact reads per iteration. Same values by construction.
    val postings = readScoredPostings(spark, indexPath)
    val statsRow = readScoredStats(spark, indexPath)
      .select("n", "avgdl").head()
    val (n, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))
    val statsLit = Seq((n, avgdl)).toDF("n", "avgdl")
    // true dfs of the query terms (≤|terms| rows via the sidecar)
    val dfByTerm: Map[String, Double] = trueDfsFrame(spark, indexPath, terms)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val dfsLit = dfByTerm.toSeq.toDF("term", "df")
    def idf(t: String): Double = {
      val df = dfByTerm.getOrElse(t, 0.0)
      math.log(1 + (n - df + 0.5) / (df + 0.5))
    }
    val maxDf = (0.0 +: terms.map(t => dfByTerm.getOrElse(t, 0.0))).max
    val safeAvg = if (avgdl > 0) avgdl else 1.0
    val impact = col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(safeAvg)))
    var cap = initialCap
    val trace = scala.collection.mutable.ArrayBuffer[Long]()
    while (true) {
      trace += cap
      if (cap >= maxDf) // the prefix IS every run: plain serve, exact
        return (bm25FromIndexCapped(spark, indexPath, terms, k, cap),
          trace.toSeq)
      // exact candidate scores (two-stage completion at this cap) —
      // checkpointed k-row frame so the certificate collect and the
      // returned output share one computation
      val post = twoStageCompletionOver(postings, terms, cap)
        .localCheckpoint(false)
      val raw = bm25RankRaw(post, dfsLit, statsLit, k).localCheckpoint(false)
      val top = raw.collect().map(r => r.getDouble(1))
      // per-term boundary impact: the rank = cap+1 rows (≤ one per
      // generation per term; absent = run fully covered) ride the same
      // page-skipped rank pushdown as the prefix read
      val mByTerm = postings
        .where(col("term").isin(terms: _*) && col("rank") === cap + 1)
        .groupBy(col("term")).agg(max(impact).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val ub = terms.map(t => idf(t) * mByTerm.getOrElse(t, 0.0)).sum
      // strict >: a non-candidate scoring exactly s_k could still win
      // the doc_id tie-break
      if (top.length >= k && top.last > ub)
        return (raw.select(col("doc_id"), round(col("s"), 4).as("bm25")),
          trace.toSeq)
      cap = cap * 8
    }
    throw new IllegalStateException("unreachable")
  }

  /** The one BM25 scoring tree both serve forms share (kept identical to
    * [[bm25Served]]/[[bm25TopK]] term for term, so every form is
    * hash-identical against bm1's oracle): df per term from the pruned
    * scan itself, the 1-row stats broadcast in, candidate-row scoring +
    * doc-keyed sum + top-k. */
  private def bm25OverPostings(spark: org.apache.spark.sql.SparkSession,
      prunedPostings: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame = {
    val post = prunedPostings
      .localCheckpoint(false) // candidate-bounded; feeds df counts AND scoring
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    bm25Rank(post, dfs, stats, k)
  }

  /** Scoring tail shared by every index serve: candidate postings ×
    * broadcast per-term df × broadcast 1-row stats → per-(doc, term)
    * contribution → doc-keyed sum → top-k. Exactness is decided entirely
    * by what the caller passes as `dfs` ([[bm25OverPostings]] counts the
    * pruned scan — min(df, cap) under a binding cap;
    * [[bm25FromIndexTwoStage]] reads the sidecar — true df). */
  private def bm25Rank(post: org.apache.spark.sql.DataFrame,
      dfs: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    bm25RankRaw(post, dfs, stats, k)
      .select(col("doc_id"), round(col("s"), 4).as("bm25"))

  /** [[bm25Rank]] before the display rounding — (doc_id, s) with the
    * UNROUNDED score, which the certified serve's upper-bound compare
    * needs (rounding first could certify on a score the true order
    * doesn't have). */
  private def bm25RankRaw(post: org.apache.spark.sql.DataFrame,
      dfs: org.apache.spark.sql.DataFrame,
      stats: org.apache.spark.sql.DataFrame,
      k: Int): org.apache.spark.sql.DataFrame =
    post
      .join(broadcast(dfs), "term")
      .join(broadcast(stats.select("n", "avgdl")))
      .select(col("doc_id"),
        (log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k)

  /** Serve conjunctive boolean retrieval from a [[fullIndexWrite]]
    * artifact — the FLAT unversioned (term, doc_id) layout ONLY (one
    * parquet root, no marker). For the VERSIONED scored artifact use
    * [[booleanAndFromScoredIndex]] — pointing this at a
    * [[fullIndexWriteScored]] root would read `postings/v=*` and
    * `stats/v=*` as one table. The bounded term `isin` pushes into the
    * term-sorted parquet (range shards prune, page indexes skip), then
    * the same having-count AND as [[booleanAnd]] — the scan never
    * touches text, only the matched terms' posting rows. */
  def booleanAndFromIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame =
    spark.read.parquet(indexPath)
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .where(col("n_hit") === terms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
      .limit(k)

  /** Serve conjunctive boolean retrieval from a [[fullIndexWriteScored]]
    * artifact — the versioned-snapshot counterpart of
    * [[booleanAndFromIndex]]: the scored postings rows carry everything
    * the AND needs (term, doc_id), so the serve is the same bounded term
    * `isin` (pushed through the generation Union into every gen's
    * term-sorted scan — range shards prune, page indexes skip) followed
    * by the having-count intersection over candidate rows only (≤ Σ df
    * of the query terms). Generation-transparent: postings appended by
    * [[fullIndexAppendScored]] participate with no rebuild, and the
    * distinct-per-gen (term, doc_id) key keeps the count exact across
    * generations (a doc_id appears for a term in at most one gen — the
    * no-duplicate-doc append contract). */
  def booleanAndFromScoredIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame =
    readScoredPostings(spark, indexPath)
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .where(col("n_hit") === terms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
      .limit(k)

  /** Conjunctive boolean retrieval (docs containing ALL query terms) —
    * the posting-list intersection query an inverted index serves, in
    * its scan form: the bounded query-term set is a map-side `isin`
    * BELOW the explode (only query-term instances survive to the
    * aggregation), per-doc distinct-hit count == |terms| is the AND.
    * The one exchange carries candidate rows only — ≤ Σ df of the
    * query terms, never corpus-sized; at 100 TB the same `having`
    * count runs over the index artifact's postings instead of the
    * scan (ii2's serve-from-artifacts pattern). */
  def booleanAnd(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(array_distinct(words(col("text")))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hit"))
      .where(col("n_hit") === terms.size)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
      .limit(k)

  /** Adjacent-pair phrase counts of `docs` — pp1's kernel. */
  def phraseTopK(docs: org.apache.spark.sql.DataFrame, a: String, b: String,
      k: Int): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"),
        size(filter(
          zip_with(col("ws"), slice(col("ws"), lit(2), size(col("ws"))),
            (x, y) => x === a && y === b),
          x => x)).cast("long").as("n_phrase"))
      .where(col("n_phrase") > 0)
      .orderBy(col("n_phrase").desc, col("doc_id"))
      .limit(k)

  private val bm1 = withOracle("bm1_bm25_topk", bm25Sql) { (s, dir) =>
    bm25TopK(Tables(s, dir, "documents"), Bm25Terms, Bm25TopK)
  }

  /** Inverted-index page build: for the [[PostingsTerms]] highest-df terms
    * (term tie-break), the document frequency plus the first postings page
    * — the [[PostingsPage]] smallest doc ids, ascending (index pages are
    * doc-id-sorted so intersection/skip-list traversal works). The gate
    * projection flattens the page to a comma-joined string (elements are
    * already deterministically ordered) because the driver's oracle
    * harness can't sort array-typed cells; the array-returning kernel
    * ([[postingsPages]]) is unchanged. */
  private val ii1 = withOracle("ii1_postings_page",
    s"""WITH w AS (SELECT DISTINCT doc_id,
       |             unnest(string_split_regex(lower(trim(text)),'\\s+')) AS term
       |           FROM documents),
       |p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |        (list(doc_id ORDER BY doc_id))[1:$PostingsPage] AS page
       |      FROM w GROUP BY term),
       |r AS (SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rn FROM p)
       |SELECT term, df,
       |       array_to_string(list_transform(page, x -> CAST(x AS VARCHAR)), ',') AS postings
       |FROM r WHERE rn <= $PostingsTerms""".stripMargin) { (s, dir) =>
    postingsPages(Tables(s, dir, "documents"), PostingsPage, PostingsTerms)
      .select(col("term"), col("df"),
        array_join(transform(col("postings"), _.cast("string")), ",").as("postings"))
  }

  /** Multi-page postings gate: the [[ShardTerms]] highest-df terms
    * sharded into [[ShardPage]]-id pages up to [[ShardMaxPages]] deep —
    * head terms (df ≈ corpus size) span ≥ 3 pages, exercising the
    * (term, page_no) layout. Pages flattened to joined strings for the
    * harness (ii1's discipline); the array-paged kernel
    * ([[postingsShards]]) is what servers read. */
  private val ShardPage = 50
  private val ShardMaxPages = 4
  private val ShardTerms = 10
  private val ii3 = withOracle("ii3_postings_shards",
    s"""WITH w AS (SELECT DISTINCT doc_id,
       |             unnest(string_split_regex(lower(trim(text)),'\\s+')) AS term
       |           FROM documents),
       |p AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
       |        (list(doc_id ORDER BY doc_id))[1:${ShardPage * ShardMaxPages}] AS ids
       |      FROM w GROUP BY term),
       |r AS (SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rn FROM p),
       |pg AS (SELECT term, df, CAST(t.pg AS BIGINT) AS page_no,
       |         ids[t.pg*$ShardPage+1 : t.pg*$ShardPage+$ShardPage] AS page
       |       FROM r, unnest(range((len(ids)-1)//$ShardPage + 1)) AS t(pg)
       |       WHERE rn <= $ShardTerms)
       |SELECT term, df, page_no,
       |       array_to_string(list_transform(page, x -> CAST(x AS VARCHAR)), ',') AS postings
       |FROM pg""".stripMargin) { (s, dir) =>
    val head = postingsIndexOf(Tables(s, dir, "documents"), ShardPage * ShardMaxPages)
      .orderBy(col("df").desc, col("term"))
      .limit(ShardTerms)
    paginatePostings(head, ShardPage)
      .select(col("term"), col("df"), col("page_no"),
        array_join(transform(col("postings"), _.cast("string")), ",").as("postings"))
  }

  /** Index-SERVED BM25 — proof the index artifacts answer the ranked
    * query the full scan answers, hash-identically (the oracle IS bm1's):
    * serving touches only (a) the tf-postings of the query terms, (b) the
    * doc-length norms table, (c) two scalar stats — never the text. At
    * real scale the artifacts are prebuilt (the postings by
    * [[graft.streaming.DocStream.startPostingsSink]]'s family, norms
    * beside them) and term-sharded, so a query reads 3 postings shards +
    * the norms join; here they build inline from the same corpus, with
    * the query-term filter pushed below the tf aggregation so the build
    * also never aggregates the full vocabulary. Per-doc scores sum via a
    * doc-keyed aggregate of candidate rows (≤ Σ df of the query terms —
    * candidate-bounded, not corpus-bounded). */
  /** ii2's kernel, frame-parametric: any (doc_id, text) corpus. */
  def bm25Served(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      k: Int): org.apache.spark.sql.DataFrame = {
    val post = docs
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .where(col("term").isin(terms: _*))
      .groupBy(col("term"), col("doc_id"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .localCheckpoint(false) // feeds df counts AND scoring
    val norms = docs
      .select(col("doc_id"), size(words(col("text"))).cast("double").as("dl"))
      .localCheckpoint(false)
    val st = norms.agg(count(lit(1)).cast("double").as("n"), avg(col("dl")).as("avgdl"))
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    post
      .join(broadcast(dfs), "term")
      .join(norms, "doc_id")
      .join(broadcast(st))
      .select(col("doc_id"),
        (log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))).as("c"))
      .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), round(col("s"), 4).as("bm25"))
  }

  private val ii2 = withOracle("ii2_bm25_served", bm25Sql) { (s, dir) =>
    bm25Served(Tables(s, dir, "documents"), Bm25Terms, Bm25TopK)
  }

  /** Build-once scored-index cache keyed by corpus dir: the index build
    * is a write-side one-off, so gate and bench calls after the first
    * measure pure artifact SERVING (the number that matters — at scale
    * the index exists long before any query). Process-scoped temp dirs. */
  private val scoredIdxCache = scala.collection.mutable.Map.empty[String, String]
  private[graft] def scoredIndexFor(s: SparkSession, dir: String): String =
    scoredIdxCache.synchronized {
      scoredIdxCache.getOrElseUpdate(dir, {
        val p = java.nio.file.Files.createTempDirectory("graft_bm25_fullidx_")
          .toString + "/index"
        fullIndexWriteScored(Tables(s, dir, "documents"), p, shards = 8)
        p
      })
    }

  /** Index-served BM25 from the FULL (term, doc_id) artifact — the rung
    * past ii2's inline-built postings: the ranked query answered entirely
    * from [[fullIndexWriteScored]]'s on-disk layout. Hash-checked against
    * the same oracle as bm1/ii2. */
  private val ii5 = withOracle("ii5_bm25_full_index", bm25Sql) { (s, dir) =>
    bm25FromIndex(s, scoredIndexFor(s, dir), Bm25Terms, Bm25TopK)
  }

  /** Generous cap for the gate form of the capped serve: far above any
    * fixture term's df, so the answer is provably EXACT against bm1's
    * oracle (the cap-vs-exactness contract); the cap-BINDING behavior —
    * fewer candidate rows, rank predicate pushed to the parquet scan —
    * is pinned in ToolsSpec where approximation is assertable. */
  private val CapGenerous = 1L << 20

  /** ii6: the impact-ordered CAPPED serve from the scored full index —
    * the WAND-rung answer to a stop-word-grade head term whose postings
    * approach corpus size. Hash-checked against the same oracle as
    * bm1/ii2/ii5. */
  private val ii6 = withOracle("ii6_bm25_capped", bm25Sql) { (s, dir) =>
    bm25FromIndexCapped(s, scoredIndexFor(s, dir), Bm25Terms, Bm25TopK,
      CapGenerous)
  }

  /** BINDING cap for the ii8/ii9 gates, derived AT GATE TIME from the
    * index's df sidecar as min(query-term df)/3 — a fixed fraction, so
    * regenerated test data or changed query terms can't silently stop
    * the cap binding or push it under the exactness knee the way a
    * hard-coded constant could (r16 pinned 128 against fixture dfs
    * ≈380-410 with the knee measured at cap≈96; min/3 lands at ~127-136
    * on the same fixtures — above the knee, binding on every term, and
    * it MOVES with the data). Binding is asserted, not assumed: a
    * degenerate corpus where min df < 2 can't bind and fails loudly.
    * At sf0.1 the derived cap stays a genuine ~3× prune of every run —
    * sf0.1 is the bench's SF, where the row measures serving cost. */
  private def bindingCapFor(s: SparkSession, idxPath: String): Long = {
    val dfs = readScoredDfs(s, idxPath)
      .getOrElse(throw new IllegalStateException(
        s"gate index at $idxPath lacks the df sidecar"))
      .where(col("term").isin(Bm25Terms: _*))
      .collect().map(_.getAs[Double]("df")).toSeq
    require(dfs.size == Bm25Terms.size,
      s"every gate term needs a sidecar df row, got $dfs for $Bm25Terms")
    val cap = math.max(1L, (dfs.min / 3).toLong)
    require(dfs.forall(cap < _),
      s"derived cap $cap must BIND on every gate term (dfs $dfs)")
    cap
  }

  /** ii8: the TWO-STAGE capped serve — capped prefixes vote candidates,
    * exact sidecar df + true tf complete them ([[bm25FromIndexTwoStage]],
    * the r15 iicap answer to binding caps). Hash-checked against the
    * same EXACT oracle as bm1/ii2/ii5/ii6 while the derived cap BINDS on
    * every query term — the property the plain capped serve cannot
    * have. */
  private val ii8 = withOracle("ii8_bm25_two_stage", bm25Sql) { (s, dir) =>
    val idx = scoredIndexFor(s, dir)
    bm25FromIndexTwoStage(s, idx, Bm25Terms, Bm25TopK, bindingCapFor(s, idx))
  }

  /** ii9: the automatic serve DISPATCH ([[bm25Serve]]) at the same
    * binding cap — the one entry a caller points a query at; here the
    * sidecar dfs route it to the two-stage completion, so it must be
    * hash-equal to the same exact oracle (the generous-cap branch is
    * ii6's, pinned separately in ToolsSpec where the CHOICE itself is
    * assertable). */
  private val ii9 = withOracle("ii9_bm25_dispatch", bm25Sql) { (s, dir) =>
    val idx = scoredIndexFor(s, dir)
    bm25Serve(s, idx, Bm25Terms, Bm25TopK, bindingCapFor(s, idx))
  }

  /** ii10: the CERTIFIED adaptive serve ([[bm25ServeCertified]]) started
    * at a quarter of the binding cap — exactness here is GUARANTEED by
    * the upper-bound certificate (escalating if it ever fails), so the
    * hash-equality to the exact oracle holds by construction, not by the
    * fixture's knee; the gate verifies the machinery delivers it. */
  private val ii10 = withOracle("ii10_bm25_certified", bm25Sql) { (s, dir) =>
    val idx = scoredIndexFor(s, dir)
    bm25ServeCertified(s, idx, Bm25Terms, Bm25TopK,
      math.max(1L, bindingCapFor(s, idx) / 4))
  }

  private val BoolK = 50
  private def boolAndSql =
    s"""WITH w AS (SELECT DISTINCT doc_id,
       |             unnest(string_split_regex(lower(trim(text)),'\\s+')) AS term
       |           FROM documents)
       |SELECT doc_id FROM w WHERE term IN ('spark','join')
       |GROUP BY doc_id HAVING count(*) = 2
       |ORDER BY doc_id LIMIT $BoolK""".stripMargin
  private val ii4 = withOracle("ii4_boolean_and", boolAndSql) { (s, dir) =>
    booleanAnd(Tables(s, dir, "documents"), Seq("spark", "join"), BoolK)
  }

  /** ii7: ii4's conjunctive AND answered from the VERSIONED scored
    * artifact via [[booleanAndFromScoredIndex]] (r15 — the flat-layout
    * serve cannot read a versioned root; this is the one that can).
    * Hash-checked against ii4's oracle; the serve reads only the two
    * query terms' posting runs, never the corpus. */
  private val ii7 = withOracle("ii7_boolean_served", boolAndSql) { (s, dir) =>
    booleanAndFromScoredIndex(s, scoredIndexFor(s, dir), Seq("spark", "join"),
      BoolK)
  }

  /** Positional phrase match — the proximity query an inverted index with
    * positions serves ("hash join" as two adjacent tokens): per-doc
    * occurrence counts are a map-only pass over adjacent token pairs
    * (zip_with against the 1-shifted array; the trailing null-padded pair
    * evaluates null and is filtered), matched docs ranked by count with
    * doc_id tie-break through TakeOrderedAndProject. */
  private val pp1 = withOracle("pp1_phrase_match",
    s"""WITH d AS (SELECT doc_id,
       |             string_split_regex(lower(trim(text)),'\\s+') AS ws FROM documents),
       |c AS (SELECT doc_id,
       |        CAST(len(list_filter(range(1, len(ws)),
       |                             i -> ws[i]='hash' AND ws[i+1]='join')) AS BIGINT) AS n_phrase
       |      FROM d)
       |SELECT doc_id, n_phrase FROM c WHERE n_phrase > 0
       |ORDER BY n_phrase DESC, doc_id LIMIT $Bm25TopK""".stripMargin) { (s, dir) =>
    phraseTopK(Tables(s, dir, "documents"), "hash", "join", Bm25TopK)
  }

  /** Dirichlet-smoothed query-likelihood scoring (Zhai & Lafferty SIGIR
    * 2001, μ = [[QlmMu]]): score(d) = Σ_t ln((tf + μ·cf_t/|C|)/(dl + μ)) —
    * the second standard ranking model next to BM25, and the same scale
    * shape as bm1: map-only tf columns inside whole-stage codegen, ONE
    * bounded stats aggregate (collection frequencies + total tokens)
    * broadcast back, TakeOrderedAndProject cut. Smoothing scores every
    * doc (no `s > 0` floor — a zero-tf doc still has a likelihood), so
    * the cut is the pure top-k. Contributions sum in sorted term order on
    * both engines (the prf2/hn determinism contract). */
  def qlmScoredDocs(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      mu: Double): org.apache.spark.sql.DataFrame = {
    val ts = terms.sorted
    val tfCols: Seq[Column] =
      col("doc_id") +: size(col("ws")).cast("double").as("dl") +:
        ts.zipWithIndex.map { case (t, i) =>
          size(filter(col("ws"), x => x === t)).cast("double").as(s"tf${i + 1}")
        }
    val tf = docs.select(col("doc_id"), words(col("text")).as("ws"))
      .select(tfCols: _*)
      .localCheckpoint(false)
    val st = tf.agg(sum(col("dl")).as("ctot"),
      ts.indices.map(i => sum(col(s"tf${i + 1}")).as(s"cf${i + 1}")): _*)
    val score = ts.indices.map { i =>
      log((col(s"tf${i + 1}") + lit(mu) * (col(s"cf${i + 1}") / col("ctot"))) /
        (col("dl") + lit(mu)))
    }.reduce(_ + _)
    tf.join(broadcast(st))
      .select(col("doc_id"), score.as("s"))
  }

  private val QlmMu = 2000.0

  private val ql1 = withOracle("ql1_lm_dirichlet", {
    val ts = Bm25Terms.sorted
    val tfCols = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE) AS tf${i + 1}"
    }.mkString(",\n       |        ")
    val cfCols = ts.indices.map(i => s"sum(tf${i + 1}) AS cf${i + 1}")
      .mkString(", ")
    val scoreTerms = ts.indices.map { i =>
      s"ln((tf${i + 1} + 2000*(cf${i + 1}/ctot))/(dl + 2000))"
    }.mkString("\n       |  + ")
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |tf AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
       |        $tfCols
       |      FROM d),
       |st AS (SELECT sum(dl) AS ctot, $cfCols FROM tf),
       |sc AS (SELECT doc_id,
       |    $scoreTerms AS s
       |  FROM tf, st),
       |r AS (SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
       |SELECT doc_id, round(s, 4) AS qlm FROM r WHERE rn <= $Bm25TopK""".stripMargin
  }) { (s, dir) =>
    qlmScoredDocs(Tables(s, dir, "documents"), Bm25Terms, QlmMu)
      .orderBy(col("s").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"), round(col("s"), 4).as("qlm"))
  }

  /** IR evaluation metrics (ir1) — the eval side of the retrieval stack:
    * MRR, nDCG@k (graded, Järvelin & Kekäläinen 2002), precision@k and
    * recall@k of bm1's ranking against deterministic pseudo-qrels
    * (graded relevance = how many of a RICHER 5-term set the doc
    * contains; fully relevant = all 5 — the ranker sees only 3 of them,
    * so the top-k genuinely mixes grades and the metrics discriminate).
    *
    * Scale shape: the ranking is bm1's TakeOrdered k rows; relevance is
    * one map-only corpus pass feeding a bounded grade histogram (≤6
    * rows — the ideal ranking needs only grade COUNTS, since the DCG
    * term depends on the grade alone) plus a k-row broadcast-pruned
    * grade lookup. All metric arithmetic runs driver-side over ≤k+6
    * rows in pinned rank order (the bounded-model shape); the oracle
    * pins the same order via `list_sum(list(… ORDER BY rn))`. */
  private[graft] val QrelTerms =
    Seq("spark", "join", "window", "sort", "merge")

  private val ir1 = withOracle("ir1_eval_metrics", {
    val relSum = QrelTerms
      .map(t => s"CASE WHEN list_contains(ws,'$t') THEN 1 ELSE 0 END")
      .mkString(" +\n       |    ")
    s"""WITH $bm25ScoreCtes,
       |r AS (SELECT doc_id, rn FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
       |  WHERE rn <= $Bm25TopK),
       |rel AS (SELECT doc_id,
       |    ($relSum) AS rel FROM d),
       |rr AS (SELECT r.rn, rel.rel FROM r JOIN rel ON r.doc_id = rel.doc_id),
       |dcg AS (SELECT list_sum(list((pow(2, rel)-1)/(ln(rn+1)/ln(2)) ORDER BY rn)) AS v FROM rr),
       |ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC) AS rn FROM rel QUALIFY rn <= $Bm25TopK),
       |idcg AS (SELECT list_sum(list((pow(2, rel)-1)/(ln(rn+1)/ln(2)) ORDER BY rn)) AS v FROM ideal),
       |nrel AS (SELECT CAST(count(*) AS BIGINT) AS n_relevant FROM rel WHERE rel = ${QrelTerms.size}),
       |m AS (SELECT coalesce(1.0/min(rn), 0.0) AS v FROM rr WHERE rel = ${QrelTerms.size}),
       |hit AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM rr WHERE rel = ${QrelTerms.size})
       |SELECT round(m.v, 6) AS mrr, round(dcg.v/idcg.v, 6) AS ndcg_k,
       |       round(hit.v/$Bm25TopK, 6) AS precision_k,
       |       round(hit.v/nrel.n_relevant, 6) AS recall_k,
       |       nrel.n_relevant
       |FROM m, dcg, idcg, hit, nrel""".stripMargin
  }) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val ranked = bm25TopK(docs, Bm25Terms, Bm25TopK)
      .collect().map(_.getLong(0))
    val relCol = QrelTerms
      .map(t => when(array_contains(words(col("text")), t), 1).otherwise(0))
      .reduce(_ + _)
    val relFrame = docs.select(col("doc_id"), relCol.as("rel"))
      .localCheckpoint(false)
    val hist = relFrame.groupBy(col("rel")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val gradeOf = relFrame.where(col("doc_id").isin(ranked.map(Long.box): _*))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val full = QrelTerms.size
    val nRelevant = hist.getOrElse(full, 0L)
    // ideal top-k grades from the histogram (DCG depends on grade only)
    val ideal = hist.toSeq.sortBy(-_._1)
      .flatMap { case (g, n) => Seq.fill(math.min(n, Bm25TopK.toLong).toInt)(g) }
      .take(Bm25TopK)
    def log2(x: Double): Double = math.log(x) / math.log(2.0)
    def dcgOf(grades: Seq[Int]): Double =
      grades.zipWithIndex.map { case (g, i) =>
        (math.pow(2, g) - 1) / log2(i + 2.0)
      }.sum
    val grades = ranked.map(gradeOf).toSeq
    val mrr = grades.zipWithIndex
      .collectFirst { case (g, i) if g == full => 1.0 / (i + 1) }
      .getOrElse(0.0)
    val nHit = grades.count(_ == full).toDouble
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    Seq((r6(mrr), r6(dcgOf(grades) / dcgOf(ideal)), r6(nHit / Bm25TopK),
      r6(nHit / nRelevant), nRelevant))
      .toDF("mrr", "ndcg_k", "precision_k", "recall_k", "n_relevant")
  }

  /** Snippet generation (sg1) — the serving post-pass every search stack
    * ships: for each top hit, the best fixed-width window (most query-term
    * occurrences; ties → earliest start). Map-only over the k hit docs
    * (broadcast semi-prune — the corpus never explodes): window
    * candidates are a per-doc sequence explode bounded by k·max_dl rows,
    * and the per-doc argmax window ranks that bounded frame, so the
    * whole operator is a k-doc sliver regardless of corpus size. */
  private val SnippetWidth = 8
  private val SnippetDocs = 5

  def snippets(docs: org.apache.spark.sql.DataFrame, terms: Seq[String],
      nDocs: Int, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bm25TopK(docs, terms, nDocs).select("doc_id")
    val wins = docs.join(broadcast(top), "doc_id")
      .select(col("doc_id"), words(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), greatest(size(col("ws")) - lit(w - 1), lit(1))))
          .as("i"))
      .select(col("doc_id"), col("i"),
        slice(col("ws"), col("i"), lit(w)).as("win"))
      .select(col("doc_id"), col("i").cast("long").as("start_idx"),
        size(filter(col("win"), x => x.isInCollection(terms))).cast("long")
          .as("n_hits"),
        array_join(col("win"), " ").as("snippet"))
    wins.withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n_hits").desc, col("start_idx"))))
      .where(col("rn") === 1)
      .drop("rn")
  }

  private val sg1 = withOracle("sg1_snippets", {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(",")
    s"""WITH $bm25ScoreCtes,
       |top5 AS (SELECT doc_id FROM (
       |    SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM sc)
       |  WHERE rn <= $SnippetDocs),
       |dd AS (SELECT d.doc_id, d.ws FROM d JOIN top5 USING (doc_id)),
       |wins AS (SELECT doc_id, CAST(i AS BIGINT) AS start_idx,
       |    CAST(len(list_filter(ws[i:i+${SnippetWidth - 1}], x -> list_contains([$termList], x))) AS BIGINT) AS n_hits,
       |    array_to_string(ws[i:i+${SnippetWidth - 1}], ' ') AS snippet
       |  FROM dd, unnest(range(1, greatest(len(ws) - ${SnippetWidth - 2}, 2))) AS t(i)),
       |best AS (SELECT doc_id, start_idx, n_hits, snippet,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, start_idx) AS rn FROM wins)
       |SELECT doc_id, start_idx, n_hits, snippet FROM best WHERE rn = 1""".stripMargin
  }) { (s, dir) =>
    snippets(Tables(s, dir, "documents"), Bm25Terms, SnippetDocs, SnippetWidth)
  }

  /** "Did you mean" spell suggestion (dym1/dym2): for each misspelled
    * query term, the vocabulary terms within edit distance
    * [[DymMaxDist]], ranked (distance asc, df desc, term asc). The
    * candidate pass is map-side Levenshtein over the DICTIONARY — bounded
    * by vocabulary size, not corpus size — so the per-query ranking
    * window runs over a bounded frame. dym1 derives the dictionary from
    * the corpus (ii1's one vocabulary-keyed exchange); dym2 reads it
    * from the versioned scored index's per-term df SIDECAR — a
    * (term, df) table, no postings touched, no corpus scan: the shape a
    * 100 TB deployment serves suggestions from. */
  private val DymQueries = Seq("joim", "scon", "stram")
  private val DymMaxDist = 2
  private val DymTopK = 5

  /** Rank suggestion candidates from a (term, df) dictionary frame. */
  def didYouMean(vocab: org.apache.spark.sql.DataFrame,
      queries: Seq[String], maxDist: Int, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.map(x => s"'$x'").mkString(",")
    vocab
      .crossJoin(broadcast(
        vocab.sparkSession.sql(s"SELECT explode(array($q)) AS query")))
      .withColumn("dist", levenshtein(col("term"), col("query")).cast("long"))
      .where(col("dist") <= maxDist)
      .withColumn("rn", row_number().over(
        Window.partitionBy("query")
          .orderBy(col("dist"), col("df").desc, col("term"))))
      .where(col("rn") <= k)
      .select(col("query"), col("term"), col("dist"), col("df"))
  }

  private def dymSql: String = {
    val qList = DymQueries.map(x => s"'$x'").mkString(",")
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |v AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM (
       |    SELECT doc_id, unnest(list_distinct(ws)) AS term FROM d) GROUP BY term),
       |q AS (SELECT unnest([$qList]) AS query),
       |c AS (SELECT q.query, v.term, CAST(levenshtein(v.term, q.query) AS BIGINT) AS dist, v.df
       |      FROM v CROSS JOIN q WHERE levenshtein(v.term, q.query) <= $DymMaxDist),
       |r AS (SELECT query, term, dist, df,
       |    row_number() OVER (PARTITION BY query ORDER BY dist, df DESC, term) AS rn FROM c)
       |SELECT query, term, dist, df FROM r WHERE rn <= $DymTopK""".stripMargin
  }

  /** Corpus-derived dictionary: (term, document frequency). */
  private def corpusVocab(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(explode(array_distinct(words(col("text")))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))

  private val dym1 = withOracle("dym1_did_you_mean", dymSql) { (s, dir) =>
    didYouMean(corpusVocab(Tables(s, dir, "documents")), DymQueries,
      DymMaxDist, DymTopK)
  }

  /** dym2: the SERVED form — the dictionary is the scored index's df
    * sidecar (one ≤|vocab|-row read under the versioned marker; df there
    * is the same document frequency by construction, suite-pinned
    * sidecar ≡ recount), hash-checked against the identical oracle. */
  private val dym2 = withOracle("dym2_dym_served", dymSql) { (s, dir) =>
    val sidecar = readScoredDfs(s, scoredIndexFor(s, dir)).getOrElse(
      throw new IllegalStateException("scored index has no df sidecar"))
    didYouMean(sidecar.select(col("term"), col("df").cast("long").as("df")),
      DymQueries, DymMaxDist, DymTopK)
  }

  /** MULTI-QUERY batch serve (ii11) — query-throughput amortization: Q
    * ranked queries answered from ONE pruned index scan. The postings
    * read prunes by the UNION of all query terms (one isin pushdown, one
    * scan, one checkpoint — vs Q separate serve calls each re-reading
    * the artifact); a broadcast (query_id, term) map replicates shared-
    * term candidate rows per query map-side; then one (query, doc)-keyed
    * sum and a per-query bottom_k heap (partial per task — the exchange
    * carries ≤ Q·k·tasks heap rows, never a per-query window funnel).
    * Exactness: uncapped prefixes ⇒ pruned-count df IS true df, so each
    * query's answer is hash-identical to its single serve (suite-pinned)
    * and to the shared generic oracle. */
  def bm25FromIndexBatch(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, queries: Seq[(String, Seq[String])],
      k: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val union = queries.flatMap(_._2).distinct
    val post = readScoredPostings(spark, indexPath)
      .where(col("term").isin(union: _*))
      .localCheckpoint(false)
    val dfs = post.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val qt = queries.flatMap { case (q, ts) => ts.distinct.map(t => (q, t)) }
      .toDF("query_id", "term")
    val contrib = post
      .join(broadcast(dfs), "term")
      .join(broadcast(readScoredStats(spark, indexPath).select("n", "avgdl")))
      .join(broadcast(qt), "term")
      .select(col("query_id"), col("doc_id"),
        (log(lit(1) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .as("c"))
    contrib
      .groupBy(col("query_id"), col("doc_id")).agg(sum(col("c")).as("s"))
      .groupBy(col("query_id"))
      .agg(bottom_k(struct((-col("s")).as("ns"), col("doc_id").as("id")), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("p", "t")))
      .select(col("query_id"), col("t.id").as("doc_id"),
        round(-col("t.ns"), 4).as("bm25"))
  }

  private val BatchQueries: Seq[(String, Seq[String])] =
    Seq("q1" -> Bm25Terms, "q2" -> Seq("sort", "merge"))

  private val ii11 = withOracle("ii11_bm25_batch", {
    val qtRows = BatchQueries.map { case (q, ts) =>
      s"SELECT '$q' AS query_id, unnest([${ts.map(t => s"'$t'").mkString(",")}]) AS term"
    }.mkString("\n       |  UNION ALL ")
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |qt AS (
       |  $qtRows),
       |ut AS (SELECT DISTINCT term FROM qt),
       |tf2 AS (SELECT dd.doc_id, ut.term,
       |          CAST(len(list_filter(dd.ws, x -> x = ut.term)) AS DOUBLE) AS tfv,
       |          CAST(len(dd.ws) AS DOUBLE) AS dl
       |        FROM d dd CROSS JOIN ut),
       |st2 AS (SELECT term, CAST(sum(CASE WHEN tfv>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df
       |        FROM tf2 GROUP BY term),
       |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |             avg(CAST(len(ws) AS DOUBLE)) AS avgdl FROM d),
       |contrib AS (SELECT t.doc_id, t.term,
       |    ln(1+(g.n-s2.df+0.5)/(s2.df+0.5)) * (t.tfv*2.2)/(t.tfv + 1.2*(0.25 + 0.75*t.dl/g.avgdl)) AS c
       |  FROM tf2 t, st2 s2, g WHERE t.term = s2.term),
       |qs AS (SELECT qt.query_id, c.doc_id, list_sum(list(c.c ORDER BY c.term)) AS s
       |  FROM qt JOIN contrib c ON qt.term = c.term
       |  GROUP BY 1, 2),
       |r AS (SELECT query_id, doc_id, s,
       |        row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn
       |      FROM qs WHERE s > 0)
       |SELECT query_id, doc_id, round(s, 4) AS bm25 FROM r WHERE rn <= $Bm25TopK""".stripMargin
  }) { (s, dir) =>
    bm25FromIndexBatch(s, scoredIndexFor(s, dir), BatchQueries, Bm25TopK)
  }

  /** Ranker agreement (ir2) — rank-biased overlap (Webber et al. TOIS
    * 2010, p = 0.9, truncated at k) plus plain overlap between the BM25
    * and query-likelihood rankings of the same query: the diagnostic a
    * ranking change ships with ("how differently would results come
    * back"). Both rankings are the gates' own TakeOrdered k rows; the
    * agreement arithmetic runs driver-side over ≤2k rows in pinned depth
    * order (the oracle pins the same order via
    * `list_sum(list(… ORDER BY d))`). On this fixture the two models
    * agree on 15 of 20 docs but order them differently (RBO 0.36) — the
    * prefix-weighted metric discriminates where set overlap cannot. */
  private val RboP = 0.9

  private val ir2 = withOracle("ir2_ranker_agreement", {
    val ts = Bm25Terms.sorted
    val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE) AS tf${i + 1}"
    }.mkString(", ")
    val qtfCols = ts.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, x -> x = '$t')) AS DOUBLE) AS qtf${i + 1}"
    }.mkString(", ")
    val dfCols = Bm25Terms.indices.map(i =>
      s"CAST(sum(CASE WHEN tf${i + 1}>0 THEN 1 ELSE 0 END) AS DOUBLE) AS df${i + 1}").mkString(", ")
    val cfCols = ts.indices.map(i => s"sum(qtf${i + 1}) AS cf${i + 1}").mkString(", ")
    val bmExpr = Bm25Terms.indices.map(i =>
      s"ln(1+(n-df${i + 1}+0.5)/(df${i + 1}+0.5)) * (tf${i + 1}*2.2)/(tf${i + 1} + 1.2*(0.25 + 0.75*dl/avgdl))")
      .mkString("\n       |    + ")
    val qlExpr = ts.indices.map(i =>
      s"ln((qtf${i + 1} + 2000*(cf${i + 1}/ctot))/(dl + 2000))")
      .mkString("\n       |    + ")
    s"""WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents),
       |tf AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, $tfCols, $qtfCols FROM d),
       |s1 AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl, $dfCols FROM tf),
       |s2 AS (SELECT sum(dl) AS ctot, $cfCols FROM tf),
       |ra AS (SELECT doc_id, rn FROM (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM
       |       (SELECT doc_id,
       |    $bmExpr AS s FROM tf, s1)) WHERE rn <= $Bm25TopK),
       |rb AS (SELECT doc_id, rn FROM (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn FROM
       |       (SELECT doc_id,
       |    $qlExpr AS s FROM tf, s2)) WHERE rn <= $Bm25TopK),
       |j AS (SELECT ra.doc_id, ra.rn AS r1, rb.rn AS r2 FROM ra JOIN rb USING (doc_id)),
       |x AS (SELECT dd.d, CAST(count(j.doc_id) AS DOUBLE) AS xd
       |      FROM unnest(range(1, ${Bm25TopK + 1})) AS dd(d)
       |      LEFT JOIN j ON j.r1 <= dd.d AND j.r2 <= dd.d
       |      GROUP BY dd.d),
       |rbo AS (SELECT ${1 - RboP} * list_sum(list(xd / d * pow($RboP, d - 1) ORDER BY d)) AS v FROM x),
       |ov AS (SELECT CAST(count(*) AS DOUBLE) AS common FROM j)
       |SELECT round(rbo.v, 6) AS rbo, round(ov.common/$Bm25TopK, 6) AS overlap_k,
       |       CAST(ov.common AS BIGINT) AS n_common FROM rbo, ov""".stripMargin
  }) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val a = bm25TopK(docs, Bm25Terms, Bm25TopK).collect().map(_.getLong(0))
    val b = qlmScoredDocs(docs, Bm25Terms, QlmMu)
      .orderBy(col("s").desc, col("doc_id")).limit(Bm25TopK)
      .collect().map(_.getLong(0))
    val rank2 = b.zipWithIndex.toMap // 0-based: rank ≤ d ⇔ idx < d
    val k = Bm25TopK
    val rbo = (1 - RboP) * (1 to k).map { dd =>
      val xd = a.take(dd).count(id => rank2.get(id).exists(_ < dd)).toDouble
      xd / dd * math.pow(RboP, dd - 1)
    }.sum
    val nCommon = a.count(rank2.contains).toLong
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    import s.implicits._
    Seq((r6(rbo), r6(nCommon.toDouble / k), nCommon))
      .toDF("rbo", "overlap_k", "n_common")
  }

  val all: Seq[QueryDef] =
    Seq(bm1, ii1, ii2, ii3, ii4, ii5, ii6, ii7, ii8, ii9, ii10, ii11, pp1,
      ql1, ir1, ir2, sg1, dym1, dym2)
}
