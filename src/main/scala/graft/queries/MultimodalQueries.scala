package graft.queries

import graft.ext.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal binary-column operators + the reference's faker transforms
  * (X9 value perturbation / X10 instance fan-out, cmd/fake_exporter/faker.go)
  * in deterministic, oracle-checkable form. */
object MultimodalQueries {

  import QueryDef._

  /** MM1 binary metadata: opaque-binary plumbing that IS expressible in
    * SQL — byte length and an 8-byte hex prefix (lowercased on both
    * engines). */
  private val mm1Binary = withOracle("mm1_binary_meta",
    """SELECT doc_id,
      |       octet_length(encode(text)) AS n_bytes,
      |       lower(hex(encode(substr(text, 1, 8)))) AS prefix_hex
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"),
      octet_length(encode(col("text"), "UTF-8")).as("n_bytes"),
      lower(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("prefix_hex"))
  }

  /** MM2 real image decode via partition-wise typed transform (mapPartitions
    * batch shape; see graft.ext.Multimodal). Each document gets a
    * deterministic synthetic PNG (solid grayscale, dimensions and level
    * derived from doc_id); Spark recovers width/height/bands/mean from the
    * ACTUAL encoded bytes through `javax.imageio`, while the oracle
    * recomputes the generation parameters in SQL — a true encode→decode
    * round-trip check on a real codec. `n_bytes` (the PNG container size)
    * is deliberately excluded: it is codec-version-dependent, not part of
    * the decode contract. */
  private val mm2Decode = withOracle("mm2_media_features",
    """SELECT doc_id,
      |       CAST(4 + doc_id % 29 AS INT) AS width,
      |       CAST(4 + (doc_id * 7) % 23 AS INT) AS height,
      |       CAST(1 AS INT) AS channels,
      |       CAST((doc_id * 37) % 256 AS DOUBLE) AS byte_mean
      |FROM documents""".stripMargin) { (s, dir) =>
    Multimodal.extractFeatures(Multimodal.asGeneratedImages(s, dir)).toDF()
      .select(col("doc_id"), col("width"), col("height"),
        col("channels"), col("byte_mean"))
  }

  /** MM3 frame sampling: the 1-row → N-frames generator shape (video
    * frame-grab pipelines), run through the real mapPartitions transform
    * (graft.ext.Multimodal.sampleFrames). The stub decode is simple
    * arithmetic on payload size, so this one IS oracle-checkable. */
  private val mm3Frames = withOracle("mm3_frame_sample",
    """SELECT d.doc_id, i.i AS frame_idx,
      |       i.i * 1000 AS ts_ms,
      |       cast((d.doc_id * 131 + i.i) % 256 AS DOUBLE) AS luma
      |FROM (SELECT doc_id,
      |             least(3, octet_length(encode(text)) // 1000) AS max_i
      |      FROM documents) d
      |JOIN (SELECT unnest(range(4)) AS i) i ON i.i <= d.max_i""".stripMargin) { (s, dir) =>
    Multimodal.sampleFrames(Multimodal.asMedia(s, dir)).toDF()
  }

  /** MM4 audio metadata: the mm2 pattern for sound — deterministic
    * synthetic WAVs (16-bit PCM, rate/channels/frames/level derived from
    * doc_id), decoded for REAL through `javax.sound.sampled`, with the
    * oracle recomputing the generation parameters in SQL. A true
    * encode→decode round trip on the JDK's actual RIFF/PCM codec. */
  private val mm4Audio = withOracle("mm4_audio_meta",
    """SELECT doc_id,
      |       CAST(8000 * (1 + doc_id % 3) AS INT) AS sample_rate,
      |       CAST(1 + doc_id % 2 AS INT) AS channels,
      |       100 + doc_id % 400 AS n_frames,
      |       CAST(doc_id % 100 - 50 AS DOUBLE) AS mean_sample
      |FROM documents""".stripMargin) { (s, dir) =>
    Multimodal.extractAudioMeta(Multimodal.asGeneratedAudio(s, dir)).toDF()
  }

  /** MM5 video-container metadata: the mm2/mm4 pattern for video, at the
    * honest pure-JDK boundary — deterministic synthetic mp4s (spec-shaped
    * ftyp + moov/mvhd/trak boxes, parameters derived from doc_id,
    * alternating mvhd v0/v1 layouts), parsed for REAL by walking the
    * ISO-BMFF box structure (public ISO/IEC 14496-12 — byte parsing, no
    * codec), with the oracle recomputing the generation parameters in SQL.
    * duration_ms is integer division on both engines (no float rounding),
    * and every numeric output is CAST — no bare sum()s here, but the
    * HUGEINT discipline applies to arithmetic-derived columns uniformly. */
  private val mm5Video = withOracle("mm5_video_meta",
    """SELECT doc_id,
      |       'isom' AS brand,
      |       CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
      |       CAST((1000 + doc_id % 9000) * 1000
      |            // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms,
      |       CAST(1 + doc_id % 3 AS INT) AS n_tracks
      |FROM documents""".stripMargin) { (s, dir) =>
    Multimodal.extractVideoMeta(Multimodal.asGeneratedVideo(s, dir)).toDF()
      .select(col("doc_id"), col("brand"), col("timescale"),
        col("duration_ms"), col("n_tracks"))
  }

  /** MM6 header-only image dimensions — the metadata FAST PATH: the same
    * generated PNGs mm2 fully decodes, answered by parsing container
    * headers alone (fixed-offset byte reads, no pixel ever decoded; see
    * graft.ext.Multimodal.parseImageHeader). At 100 TB this is the pass
    * that bins an image corpus by size/format at header-bytes cost,
    * reserving mm2's decode for slivers that need pixels. The oracle
    * recomputes the generation parameters in SQL — same round-trip
    * discipline as mm2, exercising the independent header path. */
  private val mm6Header = withOracle("mm6_image_header",
    """SELECT doc_id,
      |       'png' AS format,
      |       CAST(4 + doc_id % 29 AS INT) AS width,
      |       CAST(4 + (doc_id * 7) % 23 AS INT) AS height
      |FROM documents""".stripMargin) { (s, dir) =>
    Multimodal.extractHeaderMeta(Multimodal.asGeneratedImages(s, dir)).toDF()
      .select(col("doc_id"), col("format"), col("width"), col("height"))
  }

  /** MMD1 perceptual image near-dup — d4's SimHash discipline applied to
    * the PIXEL domain: 64-bit dHash per image (real decode + bilinear
    * 9×8 downscale), then candidate pairs from an equi-join on each of
    * the four 16-bit hash bands. Pigeonhole makes the banding EXACT for
    * the Hamming ≤ 3 verify threshold (3 differing bits can touch at most
    * 3 of 4 disjoint bands, so some band always matches — recall 1.0 by
    * construction, pinned against brute force in ExtSpec). The corpus is
    * the planted-near-dup PNG fixture: family texture + per-copy pixel
    * ripple, so matches exist only through the decoded pixels — DuckDB
    * cannot express this, hence rows-only with the ExtSpec anchor.
    * Scale shape: one narrow (doc_id, hash) frame, four equi-joins on
    * 16-bit keys — bucketed candidates, never an all-pairs cross. */
  /** Candidate-pair join over a (doc_id, hash) frame of 64-bit perceptual
    * hashes: equi-join on each 16-bit band, verify by Hamming distance.
    * Frame-parameterized: any hash frame, not only the gate fixture's.
    * `maxHamming` ≤ 3 keeps the pigeonhole exactness. */
  def dHashPairs(hashes: org.apache.spark.sql.DataFrame,
      maxHamming: Int = 3): org.apache.spark.sql.DataFrame = {
    val banded = hashes.select(col("doc_id"), col("hash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("hash"), b * 16).bitwiseAND(lit(0xffffL))
            .as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("hash"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("doc_id").as("doc_a"), col("hash").as("hash_a"),
      col("band"), col("key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("hash").as("hash_b"),
      col("band"), col("key"))
    a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("hash_a").bitwiseXOR(col("hash_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b") // a pair may match in several bands
  }

  private val dHashCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    (org.apache.spark.sql.DataFrame, Long)]()

  /** The t4 macro set (overflow-safe u64 arithmetic + splitmix64) shared
    * by the mmd1/mmd2 DIRECT oracles below. */
  private val u64Macros =
    """CREATE OR REPLACE MACRO graft_u64(x) AS
      |  CAST(CAST(x AS HUGEINT) % 18446744073709551616 AS UBIGINT);
      |CREATE OR REPLACE MACRO graft_mulmod(a, bhi, blo) AS graft_u64(
      |  (CAST(a AS HUGEINT) * blo) % 18446744073709551616 +
      |  ((CAST(a AS HUGEINT) * bhi) % 4294967296) * 4294967296);
      |CREATE OR REPLACE MACRO graft_mix1(x) AS
      |  graft_u64(CAST(x AS HUGEINT) + 11400714819323198485);
      |CREATE OR REPLACE MACRO graft_mix2(x) AS
      |  graft_mulmod(xor(x, x >> 30), 3210233709, 484763065);
      |CREATE OR REPLACE MACRO graft_mix3(x) AS
      |  graft_mulmod(xor(x, x >> 27), 2496678331, 321982955);
      |CREATE OR REPLACE MACRO graft_smix(x) AS
      |  xor(graft_mix3(graft_mix2(graft_mix1(x))),
      |      graft_mix3(graft_mix2(graft_mix1(x))) >> 31);""".stripMargin

  /** The banded-pair tail shared by both direct oracles: 4×16-bit band
    * equi-join + popcount Hamming ≤ 3, canonical distinct pairs — the
    * exact [[dHashPairs]] contract, re-stated over a `h(doc_id, hash_u)`
    * CTE the caller provides. */
  private def bandedPairsSql(maxHamming: Int) =
    s"""banded AS (
       |  SELECT doc_id, hash_u, b.b AS band,
       |         CAST((hash_u >> CAST(b.b * 16 AS INT)) % 65536 AS INT) AS key
       |  FROM h, (SELECT unnest(range(4)) AS b) b),
       |p AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b,
       |         CAST(bit_count(xor(a.hash_u, c.hash_u)) AS INT) AS hamming
       |  FROM banded a JOIN banded c ON a.band = c.band AND a.key = c.key
       |  WHERE a.doc_id < c.doc_id)
       |SELECT doc_a, doc_b, hamming FROM p WHERE hamming <= $maxHamming""".stripMargin

  /** mmd1's DIRECT oracle (r13, upgraded from rows-only + invariants):
    * the dHash of the planted PNG fixture is a deterministic pure
    * function of doc_id, so DuckDB recomputes it END-TO-END — the block
    * texture via splitmix64, the 3 sequential clamped ±4 ripple pixels,
    * the bilinear 9×8 downscale (empirically pinned: each destination
    * sample is round-half-up of the mean of the four source pixels at
    * (4x+1..4x+2, 4y+1..4y+2) — all four share the block value, so only
    * ripple pixels with coords ≡1,2 (mod 4) perturb a sample; verified
    * hash-exact against javax.imageio+Java2D for every doc at sf0.01 AND
    * sf0.1, including every round-tie case), the 64 gradient bits, and
    * the same banded pair join. The Spark side still decodes REAL PNG
    * bytes — the oracle derives from generation parameters (the mm2
    * round-trip discipline, here through two codecs and a resampler). */
  private val mmd1ImageNearDup = withOracle("mmd1_image_neardup",
    s"""$u64Macros
       |CREATE OR REPLACE MACRO graft_png_g(family, x, y) AS
       |  CAST(graft_smix(CAST(family AS HUGEINT) * 1000003 + x + y * 16) % 256 AS INT);
       |CREATE OR REPLACE MACRO graft_clamp8(v) AS least(255, greatest(0, v));
       |WITH d AS (
       |  SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS family,
       |         CASE WHEN doc_id % 2 = 0 THEN 4 ELSE -4 END AS dd
       |  FROM documents),
       |rip AS (  -- the 3 sequential ripple pixel positions of a copy doc
       |  SELECT doc_id,
       |         list_transform(range(3), k -> CAST(
       |           graft_smix(CAST(doc_id AS HUGEINT) * 31 + k)
       |             % 2147483648 % 1152 AS INT)) AS rp
       |  FROM d WHERE doc_id >= 50),
       |rvals AS (  -- final value of each DISTINCT rippled pixel after the
       |            -- sequential clamped ±4 fold (a pixel can ripple twice)
       |  SELECT r.doc_id, t.p,
       |         graft_clamp8(
       |           graft_clamp8(
       |             graft_clamp8(
       |               graft_png_g(d.family, (t.p % 36) // 4, (t.p // 36) // 4)
       |               + CASE WHEN r.rp[1] = t.p THEN d.dd ELSE 0 END)
       |             + CASE WHEN r.rp[2] = t.p THEN d.dd ELSE 0 END)
       |           + CASE WHEN r.rp[3] = t.p THEN d.dd ELSE 0 END) AS vfinal,
       |         graft_png_g(d.family, (t.p % 36) // 4, (t.p // 36) // 4) AS g
       |  FROM rip r JOIN d USING (doc_id), unnest(list_distinct(r.rp)) AS t(p)),
       |deltas AS (  -- ripples landing inside a sampled 2x2 sub-window
       |  SELECT doc_id, (p % 36) // 4 AS wx, (p // 36) // 4 AS wy,
       |         SUM(vfinal - g) AS delta
       |  FROM rvals
       |  WHERE (p % 36) % 4 IN (1, 2) AND ((p // 36) % 4) IN (1, 2)
       |  GROUP BY ALL),
       |grid AS (  -- the 9x8 downscaled luma, round-half-up of the window mean
       |  SELECT d.doc_id, xy.x, xy.y,
       |         CAST(round((4 * graft_png_g(d.family, xy.x, xy.y)
       |                     + coalesce(dl.delta, 0)) / 4.0) AS INT) AS s
       |  FROM d
       |  CROSS JOIN (SELECT a.x, b.y FROM (SELECT unnest(range(9)) AS x) a,
       |              (SELECT unnest(range(8)) AS y) b) xy
       |  LEFT JOIN deltas dl ON dl.doc_id = d.doc_id AND dl.wx = xy.x AND dl.wy = xy.y),
       |cells AS (
       |  SELECT doc_id, list(s ORDER BY y, x) AS cs FROM grid GROUP BY doc_id),
       |h AS (  -- MSB-first gradient bits, row-major
       |  SELECT doc_id,
       |         graft_u64(list_sum(list_transform(range(64), i ->
       |           CASE WHEN cs[(i // 8) * 9 + (i % 8) + 1] > cs[(i // 8) * 9 + (i % 8) + 2]
       |                THEN CAST(1 AS HUGEINT) << CAST(63 - i AS INT)
       |                ELSE CAST(0 AS HUGEINT) END))) AS hash_u
       |  FROM cells),
       |${bandedPairsSql(3)}""".stripMargin) { (s, dir) =>
    import s.implicits._
    // PERSIST the hash table before the band self-join: both join sides
    // read it, and without the persist each side re-runs the decode +
    // resample scan — 2x the dominant cost (the d2 signature-table
    // discipline; at 100 TB the hash column is write-side anyway)
    val hashes = graft.queries.DedupQueries.memoizedPersisted(dHashCache, s, dir) {
      Multimodal.asNearDupImages(s, dir)
        .mapPartitions(_.flatMap(r => Multimodal.dHash(r.media).map(h => (r.doc_id, h))))
        .toDF("doc_id", "hash")
    }
    dHashPairs(hashes)
  }

  private val audioHashCache = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.sql.SparkSession, String),
    (org.apache.spark.sql.DataFrame, Long)]()

  /** MMD2 perceptual AUDIO near-dup — mmd1's machinery applied to sound:
    * a 64-bit energy-envelope fingerprint per clip (real JDK decode; gain
    * -invariant by construction, see [[Multimodal.audioHash]]), then the
    * SAME 4×16-bit band equi-join ([[dHashPairs]] is hash-domain-agnostic)
    * with pigeonhole-exact recall at Hamming ≤ 3. The corpus is the
    * planted re-master fixture: family melody + uniform gain change +
    * one-window ripple, so matches exist only through the decoded PCM —
    * rows-only with the ExtSpec brute-force parity anchor. Scale shape
    * identical to mmd1: one narrow (doc_id, hash) frame, four equi-joins
    * on 16-bit keys — bucketed candidates, never an all-pairs cross. */
  /** mmd2's DIRECT oracle (r13, mmd1's upgrade for sound): the WAV
    * fixture's windows are square waves of constant amplitude aligned
    * exactly with the fingerprint's 65 energy windows (wlen=100,
    * n=6500 ⇒ window w covers samples [100w, 100w+100)), so each
    * window's L1 energy is 100·⌊amp⌋ and the 64 comparison bits reduce
    * to ⌊amp_k⌋ > ⌊amp_{k+1}⌋ — amp = (base [· 1.02|0.98 on the rippled
    * window]) · gain in IEEE double, identical arithmetic on both
    * engines (verified hash-exact against the real javax.sound decode
    * for every doc at sf0.01 AND sf0.1). Banded pairs as mmd1. */
  private val mmd2AudioNearDup = withOracle("mmd2_audio_neardup",
    s"""$u64Macros
       |WITH d AS (
       |  SELECT doc_id, CAST(doc_id % 50 AS BIGINT) AS family,
       |         CASE WHEN doc_id % 2 = 0 THEN 1.02 ELSE 0.98 END AS rf,
       |         CASE WHEN doc_id >= 50
       |              THEN 1.0 + ((doc_id % 16) + 1) / 200.0 ELSE 1.0 END AS gain,
       |         CASE WHEN doc_id >= 50
       |              THEN CAST(graft_smix(CAST(doc_id AS HUGEINT) * 17 + 3)
       |                        % 2147483648 % 65 AS BIGINT)
       |              ELSE -1 END AS ripple
       |  FROM documents),
       |env AS (  -- per-window floor(amplitude); energy = 100x this, so
       |          -- comparisons are unchanged
       |  SELECT doc_id,
       |         list_transform(range(65), w ->
       |           floor((CASE WHEN w = ripple
       |                       THEN (CAST(graft_smix(CAST(family AS HUGEINT) * 1000003 + w)
       |                                  % 16384 AS DOUBLE) + 256.0) * rf
       |                       ELSE CAST(graft_smix(CAST(family AS HUGEINT) * 1000003 + w)
       |                                 % 16384 AS DOUBLE) + 256.0 END) * gain)) AS es
       |  FROM d),
       |h AS (
       |  SELECT doc_id,
       |         graft_u64(list_sum(list_transform(range(64), k ->
       |           CASE WHEN es[k + 1] > es[k + 2]
       |                THEN CAST(1 AS HUGEINT) << CAST(63 - k AS INT)
       |                ELSE CAST(0 AS HUGEINT) END))) AS hash_u
       |  FROM env),
       |${bandedPairsSql(3)}""".stripMargin) { (s, dir) =>
    import s.implicits._
    val hashes = graft.queries.DedupQueries.memoizedPersisted(audioHashCache, s, dir) {
      Multimodal.asNearDupAudio(s, dir)
        .mapPartitions(_.flatMap(r => Multimodal.audioHash(r.media).map(h => (r.doc_id, h))))
        .toDF("doc_id", "hash")
    }
    dHashPairs(hashes)
  }

  /** 64-bit popcount through an INDEPENDENT code path from `bit_count`:
    * render to fixed-width hex, map each hex digit to its own popcount
    * via `translate`, sum the 16 digit-counts. Verification-only. */
  private def popcountViaHex(x: org.apache.spark.sql.Column) =
    aggregate(
      transform(sequence(lit(1), lit(16)),
        i => substring(translate(lpad(hex(x), 16, "0"),
          "0123456789ABCDEF", "0112122312232334"), i, lit(1)).cast("int")),
      lit(0), _ + _)

  /** The mmd1/mmd2 ORACLE-CHECKED companion (the s2/rh4 invariants
    * pattern): the perceptual HASHES come from real media decode (not
    * ANSI-expressible — ExtSpec anchors them against brute force), but
    * everything downstream of the frozen 64-bit hashes is pure algebra —
    *   - decode totality: every document yields exactly one hash
    *     (n_docs is the DuckDB-derivable anchor);
    *   - the banded candidate join re-derived INDEPENDENTLY: band keys
    *     through the fixed-width hex rendering (string arithmetic, not
    *     shift/mask) and Hamming through [[popcountViaHex]] (not
    *     bit_count) must reproduce the output pair set exactly;
    *   - every emitted distance re-checks ≤ maxHamming through the
    *     independent popcount;
    *   - pairs are canonical: doc_a < doc_b, no duplicates. */
  private def bandInvariants(hashes: org.apache.spark.sql.DataFrame,
      got: org.apache.spark.sql.DataFrame, maxHamming: Int = 3)
      : org.apache.spark.sql.DataFrame = {
    val banded = hashes.select(col("doc_id"), col("hash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          conv(substring(lpad(hex(col("hash")), 16, "0"), 13 - 4 * b, 4), 16, 10)
            .cast("long").as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("hash"), col("bk.band"), col("bk.key"))
    val a = banded.select(col("doc_id").as("doc_a"), col("hash").as("hash_a"),
      col("band"), col("key"))
    val b = banded.select(col("doc_id").as("doc_b"), col("hash").as("hash_b"),
      col("band"), col("key"))
    val want = a.join(b, Seq("band", "key"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        popcountViaHex(col("hash_a").bitwiseXOR(col("hash_b"))).as("hamming_w"))
      .where(col("hamming_w") <= maxHamming)
      .dropDuplicates("doc_a", "doc_b")
    val disagree = got.join(want, Seq("doc_a", "doc_b"), "full_outer")
      .where(col("hamming").isNull || col("hamming_w").isNull ||
        col("hamming") =!= col("hamming_w"))
      .agg(count(lit(1)).as("n_disagree"))
    val pairProps = got.agg(
      every(col("doc_a") < col("doc_b")).as("pairs_canonical"),
      (count(lit(1)) === countDistinct(col("doc_a"), col("doc_b")))
        .as("pairs_distinct"),
      every(col("hamming") <= maxHamming).as("all_within_hamming"))
    hashes.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(disagree)).crossJoin(broadcast(pairProps))
      .select(col("n_docs"),
        (col("n_disagree") === 0).as("pairs_equal_independent_derivation"),
        col("all_within_hamming"), col("pairs_canonical"), col("pairs_distinct"))
  }

  private val mmdInvariantsSql =
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       TRUE AS pairs_equal_independent_derivation,
      |       TRUE AS all_within_hamming,
      |       TRUE AS pairs_canonical,
      |       TRUE AS pairs_distinct
      |FROM documents""".stripMargin

  private val mmd1Invariants = withOracle("mmd1_band_invariants",
    mmdInvariantsSql) { (s, dir) =>
    import s.implicits._
    val hashes = graft.queries.DedupQueries.memoizedPersisted(dHashCache, s, dir) {
      Multimodal.asNearDupImages(s, dir)
        .mapPartitions(_.flatMap(r => Multimodal.dHash(r.media).map(h => (r.doc_id, h))))
        .toDF("doc_id", "hash")
    }
    bandInvariants(hashes, dHashPairs(hashes))
  }

  private val mmd2Invariants = withOracle("mmd2_band_invariants",
    mmdInvariantsSql) { (s, dir) =>
    import s.implicits._
    val hashes = graft.queries.DedupQueries.memoizedPersisted(audioHashCache, s, dir) {
      Multimodal.asNearDupAudio(s, dir)
        .mapPartitions(_.flatMap(r => Multimodal.audioHash(r.media).map(h => (r.doc_id, h))))
        .toDF("doc_id", "hash")
    }
    bandInvariants(hashes, dHashPairs(hashes))
  }

  /** X10 instance fan-out: clone each series for N instances with a
    * templated label (faker.go:106-151) — explode, no custom generator.
    * X9 jitter made deterministic: factor from (event_id*31+i) mod 10. */
  private val x10Fanout = withOracle("x10_instance_fanout",
    """SELECT e.event_id, 'instance-' || i.i AS instance,
      |       round(e.value * (0.9 + 0.02 * ((e.event_id * 31 + i.i) % 10)), 4) AS value
      |FROM events e CROSS JOIN (SELECT unnest(range(3)) AS i) i""".stripMargin) { (s, dir) =>
    Tables(s, dir, "events")
      .select(col("event_id"), col("value"))
      .withColumn("i", explode(sequence(lit(0), lit(2))))
      .select(col("event_id"),
        concat(lit("instance-"), col("i")).as("instance"),
        round(col("value") * (lit(0.9) + lit(0.02) *
          ((col("event_id") * 31 + col("i")) % 10)), 4).as("value"))
  }

  val all: Seq[QueryDef] = Seq(mm1Binary, mm2Decode, mm3Frames, mm4Audio,
    mm5Video, mm6Header, mmd1ImageNearDup, mmd1Invariants, mmd2AudioNearDup,
    mmd2Invariants, x10Fanout)
}
