package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF(+int8/PQ) ANN serving index — the artifact rung past
  * the inline train-per-query stages in
  * [[graft.queries.SimilarityQueries]]: train ONCE, write the codebook +
  * cell-partitioned codes, and let every subsequent query read only its
  * probed cells. (Reference anchor: the in-memory series index
  * snapshot+reload pattern, clickhouse.go:155-204 — the same
  * build-an-artifact-then-serve shape, here for vectors; crucially the
  * reference RELOADS while serving the old snapshot, never an outage —
  * this artifact keeps that contract via versioned snapshots.)
  *
  * Layout under `path` — VERSIONED snapshots, named by the marker:
  *   _INDEX_SUCCESS            live-snapshot marker; payload names the
  *                             snapshot's table dirs (flip = commit)
  *   centroids/v=N/…           (cell INT, cv ARRAY<DOUBLE>) — nlist rows
  *   pq_codebooks/v=N/…        (m, k, cv) — M×K subspace centroids over
  *                             RAW vectors (s8/s12-compatible)
  *   pqr_codebooks/v=N/…       (m, k, cv) — M×K subspace centroids over
  *                             RESIDUALS x − centroid(cell) (IVFADC)
  *   codes/v=N/g=G/cell=C/…    the corpus, DIRECTORY-partitioned by IVF
  *                             cell inside append GENERATION dirs
  *
  * Zero-downtime maintenance: a REBUILD trains fresh tables under
  * `v=N+1` beside the live `v=N` and flips the marker last; an APPEND
  * writes only a new generation dir `codes/v=N/g=G+1` (frozen
  * centroids — nothing existing is touched) and flips the marker to the
  * extended generation list. [[committed]] is therefore true THROUGHOUT
  * every maintenance op and readers keep serving the old snapshot until
  * the atomic flip; a crash mid-mutation leaves only unreferenced
  * orphan dirs (swept by the next rebuild's retention pass, which keeps
  * the current + immediately-prior snapshot for in-flight readers).
  *
  * Scale shape:
  *  - The build is one KMeans pass (a bounded one-off; at 100 TB train
  *    on a sample — centroid quality is statistical, not per-row) plus
  *    ONE corpus exchange: the cell repartition that becomes the
  *    directory layout. Files are written cell-sorted by vec_id under
  *    zstd, so the artifact's bytes are deterministic for a fixed
  *    (corpus, nlist, seed).
  *  - SERVING an nprobe query reads ONLY the probed cells' directories
  *    — partition pruning, pinned in ToolsSpec — and inside them the
  *    int8 code columns are ¼ the bytes of the float array for a
  *    candidate stage that never touches full precision (s6's
  *    discipline; the `embedding` column is read only for the bounded
  *    re-rank set).
  *  - Mutations serialize through an ownership-token lock
  *    ([[ArtifactCommit.acquireLock]]) and re-verify the token
  *    immediately before the marker flip, so a holder whose lock was
  *    stale-broken can never commit over the breaker's build.
  *
  * The int8 columns are exactly s4's oracle-checked quantization (per-
  * vector min/max affine, ties-away-from-zero) so a reader can mix
  * served and inline stages bit-for-bit. Whether the snapshot carries
  * PQ columns is recorded IN the marker (`pq=`), so a rebuild with
  * `pq = false` over a previously-PQ index cleanly drops the PQ surface
  * — appenders and readers consult the marker, never a leftover
  * directory.
  */
object AnnIndex {

  /** The live snapshot a marker names: table dirs are relative to the
    * artifact `path`. `pqcb` holds the raw-vector PQ codebooks (the
    * s8/s12-compatible encoding), `pqrcb` the RESIDUAL codebooks
    * (IVFADC proper — see [[write]]). */
  case class Snapshot(v: Int, nlist: Int, seed: Long, pq: Boolean,
      centroids: String, pqcb: Option[String], pqrcb: Option[String],
      codes: Seq[String])

  private def parse(m: Map[String, String]): Snapshot = {
    // Pre-versioned markers (payloads like 'nlist=16 seed=42' with no
    // snapshot pointer) would otherwise surface as a bare
    // NoSuchElementException from an artifact committed() calls live —
    // fail with the actual diagnosis instead
    if (!m.contains("v")) throw new IllegalStateException(
      "legacy pre-versioned ANN index marker (no 'v' key) — " +
        "rebuild the index with AnnIndex.write to migrate it")
    Snapshot(m("v").toInt, m("nlist").toInt, m("seed").toLong,
      m("pq").toBoolean, m("centroids"), m.get("pqcb"), m.get("pqrcb"),
      m("codes").split(',').toSeq.map(_.trim).filter(_.nonEmpty))
  }

  /** The committed snapshot, if any — the only state a consumer may
    * read. */
  def readSnapshot(spark: SparkSession, path: String): Option[Snapshot] =
    ArtifactCommit.readMarker(spark, path).map(parse)

  private def requireSnapshot(spark: SparkSession, path: String): Snapshot =
    readSnapshot(spark, path).getOrElse(
      throw new IllegalStateException(s"ANN index at $path is not committed"))

  /** Train centroids on `embeddings` (vec_id, embedding ARRAY<FLOAT>) and
    * write a FULL new snapshot under `path`, flipping the marker last —
    * on a path with a live snapshot this is the zero-downtime REBUILD
    * (readers serve the old snapshot until the flip). Returns the
    * centroid arrays (cell-ordered) so a caller composing build+serve in
    * one job skips the re-read. With `pq = true` (default) the codes
    * table also carries the PQ columns (`pq_codes`, `pq_rnrm` — the
    * code-only norm, exact because subspaces are disjoint coordinates)
    * and the snapshot gains a `pq_codebooks` table, so the s8-shaped ADC
    * query serves from codes alone. `beforeCommit` is a test seam: runs
    * after every table is written, before the marker flip. */
  def write(spark: SparkSession, embeddings: DataFrame, path: String,
      nlist: Int = 16, seed: Long = 42L, maxIter: Int = 5,
      pq: Boolean = true,
      beforeCommit: () => Unit = () => ()): Seq[Array[Double]] = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    import graft.queries.SimilarityQueries.pqCodebooksOf
    val token = ArtifactCommit.acquireLock(spark, path, what = "ANN index")
    try {
      val prior = readSnapshot(spark, path)
      val tv = prior.map(_.v + 1).getOrElse(0)

      val e = embeddings.withColumn("features", array_to_vector(col("embedding")))
      val model = new KMeans().setK(nlist).setSeed(seed).setMaxIter(maxIter).fit(e)
      val cents = model.clusterCenters.map(_.toArray).toSeq

      import spark.implicits._
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
        .toDF("cell", "cv")
        .coalesce(1).sortWithinPartitions("cell")
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$path/centroids/v=$tv")

      def writeCb(cb: Array[Array[Array[Double]]], dir: String): Unit =
        cb.zipWithIndex.flatMap { case (mk, mi) =>
          mk.zipWithIndex.map { case (c, ki) => (mi, ki, c.toSeq) }
        }.toSeq.toDF("m", "k", "cv")
          .coalesce(1).sortWithinPartitions("m", "k")
          .write.mode("overwrite").option("compression", "zstd")
          .parquet(dir)
      val pqCb = if (pq) Some(pqCodebooksOf(embeddings)) else None
      pqCb.foreach(writeCb(_, s"$path/pq_codebooks/v=$tv"))

      // cell assignment at build time (the model's own transform —
      // identical to the inline s3 assignment); the centroid column cv
      // rides along for the residual encode
      val centsDf = broadcast(cents.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cv"))
      val base = model.transform(e)
        .select(col("vec_id"), col("embedding"),
          col("prediction").cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .join(centsDf, "cell")

      // RESIDUAL codebooks (IVFADC proper, Jégou et al. 2011 §IV): PQ
      // over x − centroid(cell), not over x. On clustered corpora raw-PQ
      // collapses — every member of a tight cluster encodes identically,
      // so ADC cannot rank within the cluster (measured at 1M vectors:
      // recall@10 ≈ 0 raw vs the residual form; SCALE.md §7). The
      // residual IS the within-cluster signal, so quantizing it is what
      // makes the composed IVF+PQ serve rank correctly at scale. Raw-PQ
      // columns are kept alongside: they serve the cell-agnostic s12
      // regime (no centroid to subtract at score time) and s8 parity.
      val pqrCb = if (pq) Some(pqCodebooksOf(
        base.select(col("vec_id"),
          zip_with(col("v"), col("cv"), _ - _).as("embedding")))) else None
      pqrCb.foreach(writeCb(_, s"$path/pqr_codebooks/v=$tv"))

      encodeCells(base, pqCb, pqrCb)
        .repartition(nlist, col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd")
        .parquet(s"$path/codes/v=$tv/g=0")

      beforeCommit()
      // token re-verified IMMEDIATELY before the flip (the Downsample
      // rollup-claim discipline): a holder whose lock was stale-broken
      // mid-build must never commit over the breaker's work
      ArtifactCommit.verifyLock(spark, path, token, "ANN index")
      val payload = Map(
        "v" -> tv.toString, "nlist" -> nlist.toString, "seed" -> seed.toString,
        "pq" -> pq.toString, "centroids" -> s"centroids/v=$tv",
        "codes" -> s"codes/v=$tv/g=0") ++
        (if (pq) Map("pqcb" -> s"pq_codebooks/v=$tv",
          "pqrcb" -> s"pqr_codebooks/v=$tv") else Map.empty)
      ArtifactCommit.writeMarker(spark, path, payload)

      // retention sweep: keep the new snapshot + the one it replaced
      // (in-flight readers may be mid-scan of the prior files); anything
      // older — including crashed-mutation orphans — goes
      val keep = Set(s"centroids/v=$tv", s"codes/v=$tv") ++
        (if (pq) Set(s"pq_codebooks/v=$tv", s"pqr_codebooks/v=$tv")
         else Set.empty) ++
        prior.toSeq.flatMap(p =>
          Seq(p.centroids) ++ p.pqcb.toSeq ++ p.pqrcb.toSeq ++ p.codes).toSet
      ArtifactCommit.sweepVersions(spark, path,
        Seq("centroids", "pq_codebooks", "pqr_codebooks", "codes"), keep)
      cents
    } finally ArtifactCommit.releaseLock(spark, path, token)
  }

  /** The write-side encode shared VERBATIM by [[write]] and [[append]]
    * (one definition so the two paths can never drift and silently break
    * served ≡ inline): expects (vec_id, embedding, cell, v DOUBLE[],
    * cv DOUBLE[] — the row's cell centroid); adds s4's exact int8
    * quantization (per-vector min/max affine) and, when codebooks are
    * supplied, BOTH PQ encodings:
    *   - raw (`pq_codes`, `pq_rnrm`): per-subspace argmin over x, with
    *     the code-only norm (exact — subspaces are disjoint) — serves
    *     the cell-agnostic s12 regime and s8 parity;
    *   - residual (`pqr_codes`, `pqr_rnrm`): per-subspace argmin over
    *     x − centroid(cell), with the EXACT reconstruction norm
    *     ‖centroid + r̂‖ precomputed per row — the IVFADC encoding whose
    *     ADC can rank WITHIN a cluster (raw-PQ cannot: cluster members
    *     share codes). */
  private def encodeCells(base: DataFrame,
      pqCb: Option[Array[Array[Array[Double]]]],
      pqrCb: Option[Array[Array[Array[Double]]]]): DataFrame = {
    import graft.queries.SimilarityQueries.{nearestCell, PqM}
    def ddot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)
    val quantized = base
      .select(col("vec_id"), col("embedding"), col("cell"),
        array_min(col("v")).as("mn"), array_max(col("v")).as("mx"),
        col("v"), col("cv"))
      .select(col("vec_id"), col("embedding"), col("cell"),
        col("mn"), col("mx"),
        transform(col("v"), x =>
          when(col("mx") === col("mn"), lit(0))
            .otherwise(round((x - col("mn")) * 255 / (col("mx") - col("mn")), 0)
              .cast("int"))).as("codes"), col("v"), col("cv"))
    val withPq = pqCb match {
      case None => quantized
      case Some(cb) =>
        val sub = cb(0)(0).length
        val cn2Lit = array(cb.map(mk =>
          array(mk.map(c => lit(c.map(x => x * x).sum)): _*)): _*)
        val seqM = sequence(lit(0), lit(PqM - 1))
        quantized
          .withColumn("pq_codes", array((0 until PqM).map { mi =>
            nearestCell(slice(col("v"), mi * sub + 1, sub), cb(mi).toIndexedSeq)
          }: _*))
          .withColumn("pq_rnrm", sqrt(aggregate(
            transform(seqM, m => element_at(element_at(cn2Lit, m + 1),
              element_at(col("pq_codes"), m + 1) + 1)),
            lit(0.0), _ + _)))
    }
    val withPqr = pqrCb match {
      case None => withPq
      case Some(cb) =>
        val sub = cb(0)(0).length
        val cbLit = array(cb.map(mk =>
          array(mk.map(c => array(c.toIndexedSeq.map(lit): _*)): _*)): _*)
        val seqM = sequence(lit(0), lit(PqM - 1))
        val r = zip_with(col("v"), col("cv"), _ - _)
        val rhat = flatten(transform(seqM, m =>
          element_at(element_at(cbLit, m + 1),
            element_at(col("pqr_codes"), m + 1) + 1)))
        val xhat = zip_with(col("cv"), rhat, _ + _)
        withPq
          .withColumn("r", r)
          .withColumn("pqr_codes", array((0 until PqM).map { mi =>
            nearestCell(slice(col("r"), mi * sub + 1, sub), cb(mi).toIndexedSeq)
          }: _*))
          .withColumn("pqr_rnrm", sqrt(ddot(xhat, xhat)))
          .drop("r")
    }
    withPqr.drop("v", "cv")
  }

  /** Incremental maintenance — the index's daily-ingest path (the reason
    * the inline s7 assignment stage exists, now against the real
    * artifact): assign `newEmbeddings` to the FROZEN centroids entirely
    * map-side ([[graft.queries.SimilarityQueries.nearestCell]] — zero
    * exchanges beyond the cell-partitioned write, zero retraining),
    * encode with [[encodeCells]] against the STORED codebooks, and write
    * the batch as a NEW generation dir under the live codes version —
    * nothing existing is touched, the marker stays up the whole time
    * ([[committed]] readers serve the old snapshot), and the flip to the
    * extended generation list is atomic. Centroids stay frozen by
    * design: cell quality degrades only as the data distribution drifts,
    * and a periodic [[write]] rebuild re-trains AND re-coalesces the
    * generations — the classic IVF maintenance contract. A crash
    * mid-append leaves the old snapshot live and an unreferenced orphan
    * generation (swept at the next rebuild). Callers must not append a
    * vec_id already in the index (the store's series-dedup discipline
    * applies upstream). `beforeCommit` is a test seam, as in [[write]]. */
  def append(spark: SparkSession, path: String, newEmbeddings: DataFrame,
      beforeCommit: () => Unit = () => ()): Unit = {
    import graft.queries.SimilarityQueries.nearestCell
    val token = ArtifactCommit.acquireLock(spark, path, what = "ANN index")
    try {
      val snap = requireSnapshot(spark, path)
      val cents = readCentroids(spark, path)
      // the PQ question is answered by the MARKER, never by a leftover
      // directory from an older differently-configured snapshot
      val pqCb = if (snap.pq) Some(readPqCodebooks(spark, path)) else None
      val pqrCb = if (snap.pq) Some(readPqrCodebooks(spark, path)) else None

      // next generation under the LIVE codes version: 1 + the max gen on
      // DISK (not just in the marker), so a crashed append's orphan dir
      // is never half-reused — we overwrite a fresh dir every time
      val codesRoot = snap.codes.head.split("/g=")(0)
      val rootPath = new org.apache.hadoop.fs.Path(s"$path/$codesRoot")
      val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val diskGens = (try fs.listStatus(rootPath) catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }).map(_.getPath.getName).filter(_.startsWith("g="))
        .map(_.stripPrefix("g=").toInt)
      val gen = (diskGens ++ snap.codes.map(_.split("/g=")(1).toInt)).max + 1
      val genDir = s"$codesRoot/g=$gen"

      import spark.implicits._
      val centsDf = broadcast(cents.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cv"))
      val base = newEmbeddings
        .select(col("vec_id"), col("embedding"),
          nearestCell(transform(col("embedding"), _.cast("double")), cents)
            .cast("int").as("cell"),
          transform(col("embedding"), _.cast("double")).as("v"))
        .join(centsDf, "cell")
      encodeCells(base, pqCb, pqrCb)
        .repartition(cents.length, col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd")
        .parquet(s"$path/$genDir")
      // an EMPTY batch writes a fileless generation (only _SUCCESS) that
      // would break schema inference for every future reader: commit
      // nothing — delete the dir, leave the live snapshot as-is
      val wroteRows = fs.listFiles(new org.apache.hadoop.fs.Path(s"$path/$genDir"), true)
      var any = false
      while (!any && wroteRows.hasNext)
        any = wroteRows.next().getPath.getName.endsWith(".parquet")
      if (!any) { fs.delete(new org.apache.hadoop.fs.Path(s"$path/$genDir"), true); return }

      beforeCommit()
      ArtifactCommit.verifyLock(spark, path, token, "ANN index")
      val payload = Map(
        "v" -> (snap.v + 1).toString, "nlist" -> snap.nlist.toString,
        "seed" -> snap.seed.toString, "pq" -> snap.pq.toString,
        "centroids" -> snap.centroids,
        "codes" -> (snap.codes :+ genDir).mkString(",")) ++
        snap.pqcb.map("pqcb" -> _) ++ snap.pqrcb.map("pqrcb" -> _)
      ArtifactCommit.writeMarker(spark, path, payload)
    } finally ArtifactCommit.releaseLock(spark, path, token)
  }

  /** Generation compaction — the re-coalesce rung BETWEEN [[append]]s
    * and a full [[write]] rebuild: appends accumulate `g=0..G` dirs that
    * [[readCodes]] unions per query (cell pruning holds per generation,
    * but file handles, parquet footers, and task counts all scale with
    * G). A rebuild re-trains KMeans and re-encodes the corpus;
    * compaction instead rewrites ONLY the layout: the live generations'
    * already-encoded rows (centroids, codebooks, and every code column
    * FROZEN — encode determinism means there is nothing to recompute)
    * land as a single `g=0` under `codes/v=N+1`, cell-repartitioned and
    * (cell, vec_id)-sorted exactly like a fresh build. Same
    * zero-downtime contract as every mutation: build beside the live
    * dirs, ONE marker flip, [[committed]] true throughout, lock +
    * pre-flip token re-verify; a crash leaves the old snapshot live and
    * an orphan for the next sweep. Cost: one index-sized exchange (the
    * cell repartition) — no KMeans, no corpus re-encode. No-op on a
    * single-generation snapshot. */
  def compactGenerations(spark: SparkSession, path: String,
      beforeCommit: () => Unit = () => ()): Unit = {
    val token = ArtifactCommit.acquireLock(spark, path, what = "ANN index")
    try {
      val snap = requireSnapshot(spark, path)
      if (snap.codes.size <= 1) return // already one generation
      val tv = snap.v + 1
      snap.codes.map(d => spark.read.parquet(s"$path/$d"))
        .reduce(_.unionByName(_))
        .repartition(snap.nlist, col("cell"))
        .sortWithinPartitions("cell", "vec_id")
        .write.mode("overwrite").partitionBy("cell")
        .option("compression", "zstd")
        .parquet(s"$path/codes/v=$tv/g=0")
      beforeCommit()
      ArtifactCommit.verifyLock(spark, path, token, "ANN index")
      val payload = Map(
        "v" -> tv.toString, "nlist" -> snap.nlist.toString,
        "seed" -> snap.seed.toString, "pq" -> snap.pq.toString,
        "centroids" -> snap.centroids,
        "codes" -> s"codes/v=$tv/g=0") ++
        snap.pqcb.map("pqcb" -> _) ++ snap.pqrcb.map("pqrcb" -> _)
      ArtifactCommit.writeMarker(spark, path, payload)
      // retention: the new codes version + the prior snapshot's (for
      // in-flight readers mid-union) + the STILL-LIVE centroid/codebook
      // dirs (compaction never replaces them — sweeping by omission
      // would delete the live tables)
      val keep = Set(s"codes/v=$tv", snap.centroids) ++
        snap.pqcb.toSeq ++ snap.pqrcb.toSeq ++ snap.codes
      ArtifactCommit.sweepVersions(spark, path,
        Seq("centroids", "pq_codebooks", "pqr_codebooks", "codes"), keep)
    } finally ArtifactCommit.releaseLock(spark, path, token)
  }

  /** True iff a [[write]] completed — and, by the versioned-snapshot
    * contract, stays true through every rebuild/append. */
  def committed(spark: SparkSession, path: String): Boolean =
    ArtifactCommit.committed(spark, path)

  /** The codebook, cell-ordered — nlist rows, a driver-side read exactly
    * like the inline stages' in-memory centroid literal. */
  def readCentroids(spark: SparkSession, path: String): Seq[Array[Double]] = {
    val snap = requireSnapshot(spark, path)
    spark.read.parquet(s"$path/${snap.centroids}")
      .orderBy("cell")
      .collect()
      .map(r => r.getSeq[Double](1).toArray)
      .toSeq
  }

  /** The cell-partitioned coded corpus — the UNION of the live
    * snapshot's generation dirs, each read as its own root (Spark
    * rejects sibling `g=` dirs as multi-path roots). A `cell` filter
    * pushes through the Union into every generation's scan, so the
    * directory-level pruning holds per generation. Filter on `cell`
    * BEFORE anything else. */
  def readCodes(spark: SparkSession, path: String): DataFrame = {
    val snap = requireSnapshot(spark, path)
    snap.codes.map(d => spark.read.parquet(s"$path/$d")).reduce(_.unionByName(_))
  }

  /** The PQ codebooks, (m, k)-ordered — M×K×subdim doubles (~16 KB), a
    * driver-side read like [[readCentroids]]. Throws unless the LIVE
    * snapshot carries PQ (the marker decides, never a leftover dir). */
  def readPqCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val snap = requireSnapshot(spark, path)
    val dir = snap.pqcb.getOrElse(throw new IllegalStateException(
      s"ANN index at $path has no PQ in its live snapshot (built with pq=false)"))
    readCb(spark, s"$path/$dir")
  }

  /** The RESIDUAL PQ codebooks — trained on x − centroid(cell), the
    * IVFADC encoding's dictionary. Same shape and read pattern as
    * [[readPqCodebooks]]. */
  def readPqrCodebooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] = {
    val snap = requireSnapshot(spark, path)
    val dir = snap.pqrcb.getOrElse(throw new IllegalStateException(
      s"ANN index at $path has no residual PQ in its live snapshot " +
        "(built with pq=false or by a pre-residual build — rebuild to add it)"))
    readCb(spark, s"$path/$dir")
  }

  private def readCb(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val rows = spark.read.parquet(dir)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    Array.tabulate(rows.map(_._1).max + 1)(mi =>
      rows.filter(_._1 == mi).sortBy(_._2).map(_._3))
  }
}
