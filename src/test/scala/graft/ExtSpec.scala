package graft

import graft.ext.{ExtOps, Multimodal}
import graft.ext.extfunctions.bottom_k
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Properties and goldens for the training-data-pipeline operators. */
class ExtSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // FAIR so the serving-path fairness test is real whichever suite
    // creates the shared context; default-pool behavior stays FIFO
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  test("minhash LSH finds every exact-jaccard near-dup pair (full recall at corpus scale)") {
    val exact = graft.SparkEntry.queries("d3_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.DedupQueries.minhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain near-duplicates")
    assert(lsh === exact) // banding params chosen for ~zero miss probability at j>=0.8
  }

  test("bloom-prefiltered decontamination (d8) is byte-identical to the exact join (d7)") {
    val d7 = graft.SparkEntry.queries("d7_decontamination")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d8 = graft.SparkEntry.queries("d8_decontam_bloom")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d7.nonEmpty, "fixture should contain contaminated docs")
    assert(d8 === d7) // no false negatives; exact join kills false positives
  }

  test("bloom pre-filter prunes clean n-grams before the verification join") {
    import graft.functions.{bloom_agg, bloom_might_contain}
    import spark.implicits._
    // disjoint vocabularies: bench grams can never collide with clean ones
    // except through bloom false positives (1% at this sizing)
    val bench = (1 to 1000).map(i => s"bench gram number $i").toDF("g")
    val clean = (1 to 20000).map(i => s"clean gram number $i").toDF("g")
    val bloom = bench.agg(bloom_agg(xxhash64(col("g"))).as("bf"))
      .head.getAs[Array[Byte]](0)
    val survivors = clean
      .where(bloom_might_contain(lit(bloom), xxhash64(col("g")))).count()
    assert(survivors < 20000 * 0.05, s"bloom should prune ~99% of clean grams, kept $survivors")
    val benchKept = bench
      .where(bloom_might_contain(lit(bloom), xxhash64(col("g")))).count()
    assert(benchKept === 1000L) // no false negatives, ever
  }

  test("incremental LSH pairs = full LSH pairs filtered to those touching a new doc") {
    val isNew = col("doc_id") % 2 === 0
    val full = graft.queries.DedupQueries.minhashPairs(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (a, b) => a % 2 == 0 || b % 2 == 0 }
    val inc = graft.queries.DedupQueries.minhashPairsIncremental(spark, sf, isNew)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty, "fixture should contain pairs touching a new doc")
    assert(inc === expected) // and never an old-old pair
  }

  test("LSH hot-bucket cap: degenerate bucket is excluded from pair generation but reported") {
    // 60 byte-identical boilerplate docs (one degenerate LSH family: every
    // band collides) + one genuine near-dup pair + unrelated filler.
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val nearA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val nearB = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    val rows = (1L to 60L).map(i => (i, boiler)) ++
      Seq((100L, nearA), (101L, nearB)) ++
      (200L until 220L).map(i => (i, s"unique filler document number $i with words w${i}a w${i}b w${i}c w${i}d w${i}e w${i}f"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lshcap_").toString
    import spark.implicits._
    rows.toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")

    val capped = graft.queries.DedupQueries.minhashPairs(spark, dir, maxBucket = 10)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Pair generation is bounded: no pair from the 60-doc family (its
    // buckets exceed the cap), but the legitimate near-dup pair survives.
    assert(capped.contains((100L, 101L)), s"near-dup pair lost: $capped")
    assert(!capped.exists { case (a, b) => a <= 60 && b <= 60 },
      s"degenerate family leaked into pairwise path: $capped")
    // The excluded family is visible to the audit view, and d1's exact pass
    // (the designated route for identical families) groups all 60 copies.
    val over = graft.queries.DedupQueries.oversizedLshBuckets(spark, dir, maxBucket = 10)
      .collect()
    assert(over.nonEmpty && over.forall(_.getAs[Long]("bucket_n") == 60L), over.mkString(","))
    val d1 = graft.SparkEntry.queries("d1_dedup_exact")(spark, dir)
      .where(col("n_copies") === 60).collect()
    assert(d1.length == 1 && d1.head.getAs[Long]("keep_id") == 1L)
  }

  // Memoization asserts pin the identity of the cache entry the test OWNS
  // (a private corpus dir + the private[graft] RddId hooks), never the
  // global getPersistentRDDs.size: 13 suites share one SparkContext in
  // parallel and the 5-minute TTL evicts, so the global count is mutated
  // by code these tests don't own (the r15 flake: observed 28 ≠ 30).

  test("d2 signature table is memoized: repeated dedup runs reuse one cached frame") {
    // the signature persist() must not stack a fresh executor-storage copy
    // per call in a long-lived serving session — one cached frame per
    // corpus dir, reused across minhashPairs AND oversizedLshBuckets
    val dir = java.nio.file.Files.createTempDirectory("graft_d2memo_").toString
    spark.read.parquet(s"$sf/documents.parquet").limit(40)
      .write.parquet(s"$dir/documents.parquet")
    graft.queries.DedupQueries.minhashPairs(spark, dir).count()
    val f1 = graft.queries.DedupQueries.signatureCacheFrame(spark, dir)
    assert(f1.nonEmpty, "first d2 run must memoize the signature frame")
    assert(f1.get.storageLevel.useMemory, "the memoized frame must be persisted")
    graft.queries.DedupQueries.minhashPairs(spark, dir).count()
    graft.queries.DedupQueries.oversizedLshBuckets(spark, dir).count()
    graft.queries.DedupQueries.minhashPairs(spark, dir, maxBucket = 10).count()
    assert(graft.queries.DedupQueries.signatureCacheFrame(spark, dir)
      .exists(_ eq f1.get),
      "repeated d2 runs must reuse the memoized signature frame")
  }

  test("d8 bench n-gram set is memoized: repeated decontamination runs reuse one cached frame") {
    val dir = java.nio.file.Files.createTempDirectory("graft_d8memo_").toString
    spark.read.parquet(s"$sf/documents.parquet").limit(40)
      .write.parquet(s"$dir/documents.parquet")
    graft.SparkEntry.queries("d8_decontam_bloom")(spark, dir).count()
    val f1 = graft.queries.DedupQueries.benchNgramCacheFrame(spark, dir)
    assert(f1.nonEmpty, "first d8 run must memoize the bench n-gram frame")
    assert(f1.get.storageLevel.useMemory, "the memoized frame must be persisted")
    graft.SparkEntry.queries("d8_decontam_bloom")(spark, dir).count()
    graft.SparkEntry.queries("d8_decontam_bloom")(spark, dir).count()
    assert(graft.queries.DedupQueries.benchNgramCacheFrame(spark, dir)
      .exists(_ eq f1.get),
      "repeated d8 runs must reuse the memoized bench n-gram frame")
  }

  test("d2 signature cache invalidation: a rewritten corpus is re-read, evicted frame unpersisted") {
    import graft.queries.DedupQueries
    // private corpus dir so invalidation here can't race other tests
    val dir = java.nio.file.Files.createTempDirectory("graft_sigcache_").toString
    spark.read.parquet(s"$sf/documents.parquet").limit(30)
      .write.parquet(s"$dir/documents.parquet")
    val before = DedupQueries.minhashPairs(spark, dir).count()
    // prime the span cache too: its keys are dir-suffixed ("#spans<n>"),
    // pinning that the invalidation sweep matches parameterized keys
    val spanDocsBefore = DedupQueries
      .substringSpans(spark, dir, 5).select("doc_id").distinct().count()
    val owned = DedupQueries.signatureCacheFrame(spark, dir)
    assert(owned.nonEmpty && owned.get.storageLevel.useMemory)
    // rewrite the corpus out-of-band: without invalidation the TTL'd cache
    // would keep serving the 30-doc signature frame
    spark.read.parquet(s"$sf/documents.parquet").limit(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    DedupQueries.invalidateSignatures(dir)
    assert(DedupQueries.signatureCacheFrame(spark, dir).isEmpty,
      "invalidation must evict this dir's signature entry")
    // the owned frame's own storageLevel is the race-free unpersist
    // signal (asserting the global persistent-RDD count was not:
    // parallel suites persist/evict concurrently)
    assert(owned.get.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "invalidation must unpersist the evicted signature frame")
    assert(DedupQueries.minhashPairs(spark, dir).count() === 0L,
      s"post-invalidation run must see the rewritten 1-doc corpus (before: $before pairs)")
    assert(DedupQueries.substringSpans(spark, dir, 5)
      .select("doc_id").distinct().count() <= 1L,
      s"span cache must also be swept (before: $spanDocsBefore docs)")
  }

  test("keep-list CC: LSH pairs and exact pairs elect identical keepers") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = graft.SparkEntry.queries("d3_ngram_jaccard")(spark, sf)
    val viaExact = graft.queries.DedupQueries.keepList(exact, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaLsh = graft.queries.DedupQueries.keepList(
      graft.queries.DedupQueries.minhashPairs(spark, sf), docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaExact === viaLsh)
    assert(viaExact.exists { case (id, keep) => id != keep }, "fixture should contain dups")
  }

  test("sp2 family split: no near-dup pair ever crosses a split boundary") {
    val split = graft.SparkEntry.queries("sp2_family_split")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val pairs = graft.SparkEntry.queries("d3_ngram_jaccard")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture should contain near-dup pairs")
    val leaks = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(leaks.isEmpty, s"near-dup pairs crossing splits: ${leaks.take(5).toSeq}")
    // and the split is a genuine 3-way partition, not one degenerate bucket
    assert(split.values.toSet.size === 3)
  }

  test("keep-list CC: chain components converge to the global min keeper") {
    import spark.implicits._
    // path graph 1-2-3-4-5 needs multi-round propagation; 6 is isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val docs = (1L to 6L).toDF("doc_id")
    val kl = graft.queries.DedupQueries.keepList(pairs, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kl === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 6L))
  }

  test("semdedup: cluster-bounded pairs ⊆ exact cosine pairs; k=1 is the full pair set") {
    val exact = graft.SparkEntry.queries("d5_dedup_embedding")(spark, sf)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clustered = graft.queries.DedupQueries.semDedupPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val degenerate = graft.queries.DedupQueries.semDedupPairs(spark, sf, k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every pair is verified with the exact d5 cosine, so clustering can
    // only LOSE pairs (cross-cluster dups), never invent them
    assert(degenerate === exact)
    assert(clustered.subsetOf(exact))
    assert(clustered.nonEmpty, "fixture should contain within-cluster semantic dups")
  }

  test("semdedup keeper manifest: total, deterministic, keepers self-kept") {
    val m1 = graft.SparkEntry.queries("sem1_semdedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val m2 = graft.SparkEntry.queries("sem1_semdedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    assert(m1.size.toLong === n)          // every vector classified
    assert(m1 === m2)                     // seeded KMeans → reproducible manifest
    m1.values.foreach(k => assert(m1(k) === k, s"keeper $k must keep itself"))
    assert(m1.exists { case (id, keep) => id != keep }, "fixture should contain dups")
  }

  test("sm4 token budget: kept token mass tracks each language's share; clamped langs keep all") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val tok = docs.select(col("lang"),
      size(graft.ext.TextAnalysis.words(col("text"))).cast("long").as("t"),
      col("doc_id"))
    val byLang = tok.groupBy("lang").agg(sum(col("t")).as("toks"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = byLang.map { case (l, _) => l -> (if (l == "en") 1.0 else 2.0) }
    val sumW = w.values.sum
    val totalToks = byLang.values.sum.toDouble
    val kept = graft.SparkEntry.queries("sm4_token_budget")(spark, sf)
      .groupBy("lang").agg(sum(col("n_tokens")).as("kt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    byLang.foreach { case (l, toks) =>
      val target = totalToks * 0.25 * w(l) / sumW
      val rate = math.min(1.0, target / toks)
      if (rate >= 1.0)
        assert(kept(l) === toks, s"$l under budget must keep everything")
      else {
        // hash-threshold sampling hits the target in expectation; the
        // realized mass carries sampling noise ∝ 1/√n_kept_docs — en's
        // damped rate keeps only a handful of sf0.01 docs (observed
        // rel 0.28), so the bound is wide; the deterministic hash makes
        // the realized value reproducible, so this can never flake
        val rel = math.abs(kept.getOrElse(l, 0L) - target) / target
        assert(rel < 0.45, f"$l kept ${kept.getOrElse(l, 0L)} vs target $target%.0f (rel $rel%.2f)")
      }
    }
    val totalKept = kept.values.sum.toDouble
    assert(totalKept < totalToks * 0.6,
      "the mix must be a real subsample, not the whole corpus")
  }

  test("bpe merges = textbook single-machine reference, exactly") {
    import org.apache.spark.sql.functions._
    val wordCounts = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1))

    // textbook reference: per-word symbol sequences (NOT re-keyed by
    // sequence — mirrors the distributed form's one-row-per-word), pair
    // counts over every adjacent occurrence, argmax with the same
    // (count desc, left asc, right asc) tie-break (ASCII tokens, so
    // String ordering = Spark's UTF-8 binary ordering), greedy leftmost
    // non-overlapping application
    var seqs = wordCounts.map { case (w, c) =>
      (w.map(_.toString).toVector :+ graft.ext.Bpe.Eow, c)
    }
    val expected = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (step <- 1 to 12) {
      val pc = scala.collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
      seqs.foreach { case (sq, c) =>
        sq.iterator.sliding(2).withPartial(false)
          .foreach { p => pc((p.head, p(1))) += c }
      }
      val ((a, b), c) = pc.minBy { case ((a, b), c) => (-c, a, b) }
      expected += ((step, a, b, a + b, c))
      seqs = seqs.map { case (sq, cnt) =>
        (sq.foldLeft(Vector.empty[String]) { (acc, x) =>
          if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
          else acc :+ x
        }, cnt)
      }
    }
    val dict = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val got = graft.ext.Bpe.merges(dict, 12)
    assert(got === expected.toSeq)
    assert(got.exists(_._3 == graft.ext.Bpe.Eow) || got.exists(_._2.length > 1),
      "12 steps should produce at least one multi-char or EOW merge")
    // the BATCHED trainer at batch=1 IS the sequential algorithm — same
    // argmax total order, same greedy merge (the N=1 anchor that ties the
    // scale path to the textbook pin above)
    assert(graft.ext.Bpe.batchedMerges(dict, 12, 1) === got)
  }

  test("batched bpe: the gate's 256-rule training is valid, disjoint-per-round, and encodes further") {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    val rules256 = graft.SparkEntry.queries("bpe1_merges")(spark, sf)
      .collect().map(r => (r.getLong(0).toInt, r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    val trainSec = (System.nanoTime() - t0) / 1e9
    // up to 256 rules in a handful of recount rounds — seconds, not one
    // job per rule. The sf0.001 vocab EXHAUSTS before 256 (every word
    // merges to a single symbol), which is itself worth pinning: training
    // stops when no adjacent pair remains, not at an arbitrary count.
    val n = rules256.size
    assert(n >= 64 && n <= 256, s"got $n rules")
    assert(rules256.map(_._1) === (1 to n), "steps are dense and ordered")
    assert(rules256.forall(r => r._4 == r._2 + r._3), "merged = left + right")
    assert(rules256.forall(_._5 > 0), "every rule earned a positive pair count")
    assert(rules256.map(r => (r._2, r._3)).distinct.size === n, "no duplicate rule")
    info(f"$n-rule batched training: $trainSec%.1f s")
    // more rules → a finer vocabulary: encoding with all 256 rules yields
    // strictly fewer symbols than the first 12 alone on real corpus words
    val sampleWords = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 3).distinct().limit(200)
      .collect().map(_.getString(0))
    val r12 = rules256.take(12).map(r => (r._2, r._3))
    val rAll = rules256.map(r => (r._2, r._3))
    val units12 = sampleWords.map(w => graft.ext.Bpe.encodeWordSeq(w, r12).size.toLong).sum
    val unitsAll = sampleWords.map(w => graft.ext.Bpe.encodeWordSeq(w, rAll).size.toLong).sum
    assert(unitsAll < units12, s"256 rules should compress beyond 12 ($unitsAll vs $units12)")
    // round-trip soundness of every encoding: concatenating the symbols
    // of w's encoding (minus the EOW marker) restores w
    for (w <- sampleWords.take(50)) {
      val enc = graft.ext.Bpe.encodeWordSeq(w, rAll)
      assert(enc.mkString.stripSuffix(graft.ext.Bpe.Eow) === w, s"w=$w enc=$enc")
    }
  }

  test("bpe merges artifact: write/read round-trip, encode parity, strictness") {
    import org.apache.spark.sql.functions._
    val dict = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val rules = graft.ext.Bpe.merges(dict, 12).map(m => (m._2, m._3))
    val root = java.nio.file.Files.createTempDirectory("graft_merges_").toString
    val path = s"$root/merges.txt"
    graft.ext.Bpe.writeMerges(spark, rules, path)
    assert(graft.ext.Bpe.readMerges(spark, path) === rules)
    // the loaded artifact tokenizes identically to the in-memory rules
    val sample = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") < 10)
      .select(col("doc_id"), graft.ext.TextAnalysis.words(col("text")).as("ws"))
    val a = sample.select(graft.ext.Bpe.encodeWords(col("ws"), rules)).collect()
    val b = sample.select(graft.ext.Bpe.encodeWords(col("ws"),
      graft.ext.Bpe.readMerges(spark, path))).collect()
    assert(a.toSeq === b.toSeq)
    // re-write overwrites atomically (same content, no tmp leftovers)
    graft.ext.Bpe.writeMerges(spark, rules, path)
    assert(graft.ext.Bpe.readMerges(spark, path) === rules)
    assert(!new java.io.File(root).listFiles().exists(_.getName.contains(".tmp-")))
    // truncated artifact fails loudly, never tokenizes differently
    // (written through the Hadoop FS so the checksum sidecar stays valid)
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val o = fs.create(hp, true)
    try o.write("#version: graft-bpe-1\nab\n".getBytes("UTF-8")) finally o.close()
    intercept[IllegalArgumentException] {
      graft.ext.Bpe.readMerges(spark, path)
    }
  }

  test("bpe encode: column fold = reference application of the learned rules") {
    import org.apache.spark.sql.functions._
    val dict = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val rules = graft.ext.Bpe.merges(dict, 12).map(m => (m._2, m._3))

    val sample = spark.read.parquet(s"$sf/documents.parquet")
      .where(col("doc_id") < 25)
      .select(col("doc_id"), graft.ext.TextAnalysis.words(col("text")).as("ws"))
    val got = sample
      .select(col("doc_id"), graft.ext.Bpe.encodeWords(col("ws"), rules).as("enc"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[scala.collection.Seq[String]](1).map(_.toVector).toVector)
      .toMap

    def refEncode(w: String): Vector[String] =
      rules.foldLeft(w.map(_.toString).toVector :+ graft.ext.Bpe.Eow) {
        case (sym, (a, b)) =>
          sym.foldLeft(Vector.empty[String]) { (acc, x) =>
            if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
            else acc :+ x
          }
      }
    val expected = sample.collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).map(refEncode).toVector)
      .toMap
    assert(got === expected)
    // the learned rules actually compress: some word must encode to
    // fewer symbols than chars+1
    assert(expected.values.flatten.exists(e => e.exists(_.length > 1)))
  }

  test("bpe real-vocab serving: rank encode = in-order fold; kernel counts true units") {
    import org.apache.spark.sql.functions._
    val dict = spark.read.parquet(s"$sf/documents.parquet")
      .select(explode(graft.ext.TextAnalysis.words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    // a rule set deep enough that later rules consume earlier merges
    // (across batched rounds rules are NOT disjoint) but capped BELOW
    // this fixture's vocab exhaustion (~110+ rules fully merge all 31
    // distinct words, which would make the units>words sanity check
    // below vacuously false)
    val rules = graft.ext.Bpe.batchedMerges(dict, 96, 32).map(m => (m._2, m._3))
    assert(rules.size > 64, "fixture must learn past one batched round")
    val ranks = rules.zipWithIndex.map { case (p, i) => p -> i }.toMap
    val sampleWords = dict.orderBy(col("cnt").desc, col("w")).limit(300)
      .collect().map(_.getString(0))
    for (w <- sampleWords) {
      assert(graft.ext.Bpe.encodeRanked(w, ranks) ===
        graft.ext.Bpe.encodeWordSeq(w, rules), s"w=$w")
    }
    // the serving kernel's per-doc totals = scalar encode summed per doc
    val docs = spark.read.parquet(s"$sf/documents.parquet").where(col("doc_id") < 40)
    val got = graft.ext.Bpe.bpeUnitCounts(docs, rules)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2)))).toMap
    val expected = docs
      .select(col("doc_id"), graft.ext.TextAnalysis.words(col("text")).as("ws"))
      .collect()
      .map { r =>
        val ws = r.getSeq[String](1)
        r.getLong(0) -> ((ws.length,
          ws.map(w => graft.ext.Bpe.encodeWordSeq(w, rules).length.toLong).sum))
      }.toMap
    assert(got === expected)
    // the counts are real symbol totals, not the word count (words not
    // fully merged carry >1 unit each)
    assert(got.values.exists { case (nw, nu) => nu > nw })
  }

  test("s7 incremental IVF assign: map-side argmin = plain-Scala same-formula argmin; total, deterministic") {
    val cents = graft.queries.SimilarityQueries.ivfCentroids(spark, sf)
    val got = graft.SparkEntry.queries("s7_ivf_assign")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got2 = graft.SparkEntry.queries("s7_ivf_assign")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === got2) // seeded KMeans + pure fold => reproducible

    // independent argmin: same formula, same fold order (strict < keeps
    // the FIRST min — the tie-break the expression documents), so the
    // comparison is exact double equality, not approximate
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .where("vec_id % 10 >= 8").select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val expected = vecs.map { case (id, v) =>
      var bestCell = -1L; var bestD = Double.MaxValue
      cents.zipWithIndex.foreach { case (c, i) =>
        var d = 0.0; var j = 0
        while (j < v.length) { val t = v(j) - c(j); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; bestCell = i.toLong }
      }
      id -> bestCell
    }.toMap
    assert(got === expected)
    assert(got.keySet === vecs.map(_._1).toSet)       // every new vector assigned
    assert(got.values.forall(c => c >= 0 && c < 16))  // to a real cell
    assert(got.values.toSet.size > 1, "fixture should spread across cells")
  }

  test("int8 quantization: dequantized vectors reconstruct within (mx-mn)/510 per component") {
    val rows = graft.SparkEntry.queries("s4_quantize_int8")(spark, sf).collect()
    val orig = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (id, mn, mx) = (r.getLong(0), r.getDouble(1), r.getDouble(2))
      val codes = r.getString(3).split(",").map(_.toInt)
      val v = orig(id)
      assert(codes.length === v.length)
      assert(codes.forall(c => c >= 0 && c <= 255))
      val scale = if (mx == mn) 0.0 else (mx - mn) / 255
      val bound = (mx - mn) / 510 + 1e-5 // half a code step (+ the mn/mx round(6) slack)
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x - (mn + c * scale)) <= bound,
          s"vec $id: |${x} - ${mn + c * scale}| > $bound")
      }
    }
  }

  test("hybrid RRF fusion equals the rank arithmetic of its two pools") {
    import graft.queries.{HybridQueries, Tables}
    val docs = Tables(spark, sf, "documents")
    val embs = Tables(spark, sf, "embeddings")
    val terms = Seq("spark", "join", "window")
    val lex = HybridQueries.lexicalRankedPool(docs, terms, 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val den = HybridQueries.denseRankedPool(embs, 0L, 50)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // pools are genuine rank lists: contiguous 1..n, disjoint ranks
    assert(lex.values.toSeq.sorted === (1 to lex.size), s"lex ranks $lex")
    assert(den.values.toSeq.sorted === (1 to den.size), s"den ranks $den")
    assert(!den.contains(0L), "the query vector must not be its own neighbor")
    // the fused operator must equal RRF computed by hand from the pools
    val expected = (lex.keySet ++ den.keySet).toSeq.map { id =>
      val c = lex.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        den.get(id).map(r => 1.0 / (60 + r)).getOrElse(0.0)
      (id, c)
    }.sortBy { case (id, c) => (-c, id) }.take(20).map { case (id, c) =>
      (id, BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val fused = graft.SparkEntry.queries("hyb1_hybrid_rrf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(fused === expected)
    // fusion is doing real work here: both rankers contribute to the cut
    val both = fused.map(_._1).toSet
    assert((both intersect (lex.keySet -- den.keySet)).nonEmpty &&
      (both intersect (den.keySet -- lex.keySet)).nonEmpty,
      s"fixture must exercise single-ranker docs in the fused top-k: $fused")
  }

  test("served hybrid: invariants all hold and the fusion serves from both artifacts") {
    val inv = graft.SparkEntry.queries("hyb2_served_invariants")(spark, sf)
      .collect().head
    assert(inv.getBoolean(0), "both artifacts must report committed")
    assert(inv.getBoolean(1), "served lexical pool must equal the scan-form pool's doc set")
    assert(inv.getBoolean(2), "served fusion must equal hand-computed RRF of its pools")
    assert(inv.getBoolean(3), "nprobe dense pool must clear the recall floor")
    assert(inv.getLong(4) === 20L)
  }

  test("PRF expansion: mined terms are the exact top-e and widen recall") {
    import graft.queries.{PrfQueries, Tables}
    val docs = Tables(spark, sf, "documents")
    val terms = Seq("spark", "join", "window")
    val exp = graft.SparkEntry.queries("prf1_expansion_terms")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(exp.length === 10)
    assert(exp.forall { case (t, _) => !terms.contains(t) && t.nonEmpty })
    // recount independently: each mined count is the true frequency in
    // the feedback docs, and nothing outside the cut beats the cut's min
    val fb = graft.queries.RetrievalQueries
      .bm25ScoredDocs(docs, terms)
      .orderBy(org.apache.spark.sql.functions.col("s").desc,
        org.apache.spark.sql.functions.col("doc_id"))
      .limit(5).collect().map(_.getLong(0)).toSet
    val words = docs.collect()
      .filter(r => fb(r.getAs[Long]("doc_id")))
      .flatMap(_.getAs[String]("text").trim.toLowerCase.split("\\s+"))
      .filter(t => t.nonEmpty && !terms.contains(t))
    val counts = words.groupBy(identity).view.mapValues(_.length.toLong).toMap
    exp.foreach { case (t, n) => assert(counts(t) === n, s"count drift for $t") }
    val ord = Ordering.Tuple2[Long, String] // rank key (-tf, term): better first
    val cutMin = exp.map { case (t, n) => (-n, t) }.max(ord) // worst kept
    counts.filterNot(c => exp.exists(_._1 == c._1)).foreach { case (t, n) =>
      assert(ord.gt((-n, t), cutMin), s"dropped term $t (tf $n) beats the cut")
    }
    // recall widening: the expanded term set makes MATCHABLE docs the
    // original query cannot see at all (zero original terms, ≥1 expansion
    // term) — the candidate-set property; whether they reach the top-k
    // cut is corpus-dependent. And every emitted doc matches ≥1 expanded
    // term (the s > 0 contract).
    val expSet = exp.map(_._1).toSet
    val tokens = docs.collect().map(r =>
      r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").toLowerCase.trim.split("\\s+").toSet).toMap
    assert(tokens.values.count(ws =>
      !terms.exists(ws) && expSet.exists(ws)) > 0,
      "expansion should make docs with zero original-term matches matchable")
    val got = graft.SparkEntry.queries("prf2_bm25_expanded")(spark, sf)
      .collect().map(_.getLong(0))
    assert(got.forall(d => (terms.toSet ++ expSet).exists(tokens(d))),
      s"every emitted doc must match ≥1 expanded-query term")
  }

  test("MMR diversification: stepwise-optimal, pool-bounded, never less diverse") {
    val inv = graft.SparkEntry.queries("mmr1_diversity_invariants")(spark, sf)
      .collect().head
    assert(inv.getBoolean(0), "picks must come from the pool")
    assert(inv.getBoolean(1), "first pick must be the relevance argmax")
    assert(inv.getBoolean(2), "every pick must maximize the MMR objective at its step")
    assert(inv.getBoolean(3), "diversified set must not be MORE self-similar than plain top-k")
    assert(inv.getLong(4) === 10L)
    // determinism: the greedy is pure arithmetic over the collected pool
    val a = graft.SparkEntry.queries("mmr1_diversified")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    val b = graft.SparkEntry.queries("mmr1_diversified")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(a === b)
  }

  test("hard-negative mining: terms, exclusions, and ranks verify independently") {
    import graft.queries.{NegativeQueries, RetrievalQueries, Tables}
    val raw = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text")).getOrElse(""))
    val toks = raw.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").toSeq
    }.toMap
    def shingleSet(id: Long): Set[String] = {
      val ws = toks(id)
      if (ws.length < 2) Set.empty else ws.sliding(2).map(_.mkString(" ")).toSet
    }
    def jac(a: Long, b: Long): Double = {
      val (sa, sb) = (shingleSet(a), shingleSet(b))
      if (sa.isEmpty || sb.isEmpty) 0.0
      else (sa intersect sb).size.toDouble / (sa union sb).size
    }
    val anchorIds = RetrievalQueries
      .bm25ScoredDocs(Tables(spark, sf, "documents"), Seq("spark", "join", "window"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(3).collect().map(_.getLong(0)).toSet
    // hn1: mined terms are the true per-anchor top-5 by (tf desc, term)
    val mined = graft.SparkEntry.queries("hn1_anchor_terms")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(mined.map(_._1).toSet === anchorIds)
    mined.groupBy(_._1).foreach { case (a, rows) =>
      val counts = toks(a).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
      rows.foreach { case (_, t, n) =>
        assert(counts(t) === n, s"anchor $a term $t count drift")
      }
      assert(rows.length === math.min(5, counts.size))
      val ord = Ordering.Tuple2[Long, String]
      val cutMin = rows.map { case (_, t, n) => (-n, t) }.max(ord)
      counts.filterNot(c => rows.exists(_._2 == c._1)).foreach { case (t, n) =>
        assert(ord.gt((-n, t), cutMin), s"anchor $a: dropped term $t beats the cut")
      }
    }
    val minedTerms = mined.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // hn2: per-anchor contiguous ranks, scores descending with the cut's
    // tie-break, anchor + near-dups excluded, every negative matchable
    val neg = graft.SparkEntry.queries("hn2_hard_negatives")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(neg.map(_._1).toSet === anchorIds)
    neg.groupBy(_._1).foreach { case (a, rows) =>
      val byRank = rows.sortBy(_._3)
      assert(byRank.map(_._3) === (1L to rows.length), s"anchor $a ranks")
      assert(byRank.map(_._4).zip(byRank.map(_._4).tail).forall { case (x, y) => x >= y },
        s"anchor $a scores must be non-increasing in rank")
      rows.foreach { case (_, id, _, s) =>
        assert(id !== a, "the anchor is not its own negative")
        assert(jac(a, id) < 0.8, s"negative $id is a near-dup of anchor $a")
        assert(minedTerms(a).exists(toks(id).contains), s"negative $id matches no mined term")
        assert(s > 0, "retrieved negatives carry positive scores")
      }
    }
  }

  test("training triplets: positives are cluster-mates, negatives are not, counts compose") {
    import graft.queries.DedupQueries
    val docs = graft.queries.Tables(spark, sf, "documents")
    val keep = DedupQueries.keepList(DedupQueries.exactPairs(spark, sf), docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = keep.groupBy(_._2).view.mapValues(_.keys.toSet).toMap
    val expAnchors = clusters.filter(_._2.size >= 2).toSeq
      .sortBy { case (k, m) => (-m.size, k) }.take(2).map(_._1).toSet
    val tri = graft.SparkEntry.queries("hn3_training_triplets")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(tri.map(_._1).toSet === expAnchors,
      "anchors must be the keepers of the largest dup clusters")
    tri.groupBy(_._1).foreach { case (a, rows) =>
      val pos = rows.map(_._2).toSet
      val negs = rows.map(r => (r._3, r._4)).toSet
      assert(pos === clusters(a) - a, s"anchor $a positives must be its cluster-mates")
      negs.foreach { case (n, _) =>
        assert(keep(n) !== a, s"negative $n is in anchor $a's cluster")
      }
      assert(rows.length === pos.size * negs.size,
        s"anchor $a must emit the full positive × negative cross")
      assert(negs.map(_._2).toSeq.sorted === (1L to negs.size),
        s"anchor $a negative ranks must be contiguous")
    }
    // determinism: the mining is pure arithmetic over pinned orderings
    val again = graft.SparkEntry.queries("hn3_training_triplets")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet === tri.toSet)
  }

  test("hard negatives: an empty-text anchor degrades gracefully (no rows), not a crash") {
    // r18 ADVICE: anchorModel used to keep anchors with zero non-empty
    // terms, and scoreByAnchors' per-anchor reduce(_ + _) then threw at
    // plan construction. The old anchorTerms path dropped such anchors
    // (term <> '' filter) — the model path must match that semantics:
    // the empty anchor simply yields no negatives.
    import spark.implicits._
    val docs = Seq(
      (1L, "   "), // whitespace-only anchor: zero non-empty terms
      (2L, "spark join window spark"),
      (3L, "spark window shuffle table"),
      (4L, "join join table scan"),
      (5L, "window scan spark join")
    ).toDF("doc_id", "text")
    val anchors = Seq(1L, 2L).toDF("anchor_id")
    val got = graft.queries.NegativeQueries
      .hardNegatives(docs, anchors, m = 5, n = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.forall(_._1 == 2L),
      "the empty anchor must contribute no negatives")
    assert(got.nonEmpty, "the non-empty anchor still mines negatives")
  }

  test("hard negatives and triplets: no anchor with mined terms gives an empty frame, not a plan error") {
    import graft.queries.NegativeQueries.{hardNegatives, trainingTriplets}
    import spark.implicits._
    val docs = Seq((1L, "   "), (2L, "spark join window"), (3L, " \t "), (4L, "join table scan"))
      .toDF("doc_id", "text")
    def schema(df: org.apache.spark.sql.DataFrame) = df.schema.map(f => (f.name, f.dataType))
    val mined = hardNegatives(docs, Seq(2L).toDF("anchor_id"), m = 5, n = 10)
    assert(mined.collect().nonEmpty)
    for (anchors <- Seq(Seq(1L, 3L), Seq.empty[Long])) { // term-less anchors, no anchors
      val got = hardNegatives(docs, anchors.toDF("anchor_id"), m = 5, n = 10)
      assert(got.collect().isEmpty && schema(got) === schema(mined), anchors)
    }
    // keepers (doc_id, keep_id): doc 1's cluster {1, 3} has only term-less
    // docs; doc 2's cluster {2, 4} mines terms
    val keepers = Seq((1L, 1L), (3L, 1L), (2L, 2L), (4L, 2L)).toDF("doc_id", "keep_id")
    val triplets = trainingTriplets(docs, keepers, c = 2, m = 5, n = 3)
    for (ks <- Seq(keepers.where($"keep_id" === 1L), keepers.where($"doc_id" === $"keep_id"))) {
      val got = trainingTriplets(docs, ks, c = 2, m = 5, n = 3)
      assert(got.collect().isEmpty && schema(got) === schema(triplets))
    }
  }

  test("KMV sketch: exact below k, 4-sigma estimates above, mergeable, distinct") {
    import graft.ext.Kmv
    import graft.ext.extfunctions.kmv_sketch
    def sketch(df: org.apache.spark.sql.DataFrame, k: Int): Array[Long] =
      df.agg(kmv_sketch(xxhash64(col("id")), k).as("s"))
        .collect()(0).getSeq[Long](0).toArray
    // below k: the sketch IS the distinct hash set (exact estimate)
    val small = sketch(spark.range(100).toDF("id"), 256)
    assert(small.length === 100)
    assert(Kmv.distinctEstimate(small, 256) === 100.0)
    // duplicates never occupy slots: 3 copies of 100 distinct ids
    val dup = sketch(spark.range(300).select((col("id") % 100).as("id")), 256)
    assert(dup.toSeq === small.toSeq, "duplicate hashes must collapse")
    // filled sketch: estimate within the 4-sigma bound of the truth
    val n = 200000L
    val k = 1024
    val big = sketch(spark.range(n).toDF("id"), k)
    assert(big.length === k)
    val est = Kmv.distinctEstimate(big, k)
    assert(math.abs(est - n) <= Kmv.distinctBound(est, filled = true, k),
      s"est $est vs $n outside 4-sigma")
    // mergeability: sketch(A) merged with sketch(B) = sketch(A union B)
    val a = sketch(spark.range(0, n / 2).toDF("id"), k)
    val b = sketch(spark.range(n / 4, n).toDF("id"), k) // overlapping halves
    assert(Kmv.merge(a, b, k).toSeq === big.toSeq)
    // overlap estimator on the planted 50% overlap
    val (rho, cEst, uEst) = Kmv.overlapEstimate(a, b, k)
    val exactCommon = n / 2 - n / 4
    assert(math.abs(cEst - exactCommon) <=
      Kmv.intersectionBound(rho, k, uEst), s"common est $cEst vs $exactCommon")
    // structural: sorted strictly ascending
    assert(big.zip(big.drop(1)).forall { case (p, q) => p < q })
  }

  test("Dirichlet query-likelihood ranking equals a driver-side recomputation") {
    import graft.queries.Tables
    val docs = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text")).getOrElse("")
          .trim.toLowerCase.split("\\s+").toSeq)
    val terms = Seq("join", "spark", "window") // sorted — the pinned order
    val mu = 2000.0
    val ctot = docs.map(_._2.length.toDouble).sum
    val cf = terms.map(t => t -> docs.map(_._2.count(_ == t).toDouble).sum).toMap
    val expected = docs.map { case (id, ws) =>
      val dl = ws.length.toDouble
      val s = terms.map(t =>
        math.log((ws.count(_ == t) + mu * (cf(t) / ctot)) / (dl + mu))).sum
      (id, s)
    }.sortBy { case (id, s) => (-s, id) }.take(20).map(_._1).toSeq
    val got = graft.SparkEntry.queries("ql1_lm_dirichlet")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    assert(got === expected)
    // smoothing scores every doc: a top-20 exists even though no doc is
    // required to match — and scores are all finite negatives
    val scores = graft.SparkEntry.queries("ql1_lm_dirichlet")(spark, sf)
      .collect().map(_.getDouble(1))
    assert(scores.forall(s => s < 0 && !s.isInfinite && !s.isNaN))
  }

  test("IR eval metrics recompute from raw text and discriminate on this fixture") {
    import graft.queries.Tables
    val row = graft.SparkEntry.queries("ir1_eval_metrics")(spark, sf)
      .collect().head
    val (mrr, ndcg, prec, rec, nRel) = (row.getDouble(0), row.getDouble(1),
      row.getDouble(2), row.getDouble(3), row.getLong(4))
    // independent recomputation from collected raw text (ranking ids ride
    // bm1's hash-proven ordering; everything else re-derived here)
    val toks = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text")).getOrElse("")
          .trim.toLowerCase.split("\\s+").toSet).toMap
    val qrels = Seq("spark", "join", "window", "sort", "merge")
    val grade = toks.view.mapValues(ws => qrels.count(ws)).toMap
    val ranked = graft.queries.RetrievalQueries
      .bm25TopK(Tables(spark, sf, "documents"), Seq("spark", "join", "window"), 20)
      .collect().map(_.getLong(0)).toSeq
    val g = ranked.map(grade)
    def log2(x: Double) = math.log(x) / math.log(2.0)
    def dcg(gs: Seq[Int]) = gs.zipWithIndex
      .map { case (x, i) => (math.pow(2, x) - 1) / log2(i + 2.0) }.sum
    val ideal = grade.values.toSeq.sorted(Ordering[Int].reverse).take(20)
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(mrr === r6(g.zipWithIndex.collectFirst {
      case (5, i) => 1.0 / (i + 1) }.getOrElse(0.0)))
    assert(ndcg === r6(dcg(g) / dcg(ideal)))
    assert(prec === r6(g.count(_ == 5) / 20.0))
    assert(nRel === grade.values.count(_ == 5).toLong)
    assert(rec === r6(g.count(_ == 5).toDouble / nRel))
    // the fixture discriminates: metrics are strictly inside (0, 1)
    assert(ndcg > 0 && ndcg < 1, s"ndcg $ndcg should be non-degenerate")
    assert(prec > 0 && prec < 1)
  }

  test("snippets are the true argmax window of each top hit") {
    import graft.queries.Tables
    val terms = Set("spark", "join", "window")
    val toks = Tables(spark, sf, "documents").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        Option(r.getAs[String]("text")).getOrElse("")
          .trim.toLowerCase.split("\\s+").toSeq).toMap
    val got = graft.SparkEntry.queries("sg1_snippets")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got.length === 5)
    got.foreach { case (id, start, hits, snippet) =>
      val ws = toks(id)
      // enumerate every width-8 window: none beats (hits desc, start asc)
      val wins = (1 to math.max(ws.length - 7, 1)).map { i =>
        val w = ws.slice(i - 1, i - 1 + 8)
        (i.toLong, w.count(terms).toLong, w.mkString(" "))
      }
      val best = wins.minBy { case (i, h, _) => (-h, i) }
      assert((start, hits, snippet) === best, s"doc $id window drift")
      assert(hits >= 1, s"a top-BM25 hit must have a matching window")
    }
  }

  test("did-you-mean: true nearest vocabulary terms, served ≡ scan-form") {
    val scan = graft.SparkEntry.queries("dym1_did_you_mean")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val served = graft.SparkEntry.queries("dym2_dym_served")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(scan.toSet === served.toSet,
      "the sidecar dictionary must suggest identically to the corpus scan")
    // every suggestion is within the distance budget of its query and
    // its df is the true document frequency
    val toks = graft.queries.Tables(spark, sf, "documents").collect()
      .map(r => Option(r.getAs[String]("text")).getOrElse("")
        .trim.toLowerCase.split("\\s+").toSet)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    scan.foreach { case (q, t, dist, df) =>
      assert(lev(q, t) === dist && dist <= 2, s"$q -> $t distance drift")
      assert(toks.count(_.contains(t)).toLong === df, s"$t df drift")
    }
    // the intended corrections surface as the top suggestion per query
    val top = scan.groupBy(_._1).view.mapValues(_.minBy(s => (s._3, -s._4, s._2))._2).toMap
    assert(top === Map("joim" -> "join", "scon" -> "scan", "stram" -> "stream"))
  }

  test("ranker agreement: RBO formula pinned, gate values recompute") {
    import graft.queries.{RetrievalQueries, Tables}
    val docs = Tables(spark, sf, "documents")
    val terms = Seq("spark", "join", "window")
    val a = RetrievalQueries.bm25TopK(docs, terms, 20).collect().map(_.getLong(0)).toSeq
    val b = RetrievalQueries.qlmScoredDocs(docs, terms, 2000.0)
      .orderBy(col("s").desc, col("doc_id")).limit(20)
      .collect().map(_.getLong(0)).toSeq
    def rbo(x: Seq[Long], y: Seq[Long], p: Double, k: Int): Double = {
      val ry = y.zipWithIndex.toMap
      (1 - p) * (1 to k).map { d =>
        x.take(d).count(id => ry.get(id).exists(_ < d)).toDouble / d *
          math.pow(p, d - 1)
      }.sum
    }
    // identical rankers: truncated RBO equals its analytic maximum 1 - p^k
    assert(math.abs(rbo(a, a, 0.9, 20) - (1 - math.pow(0.9, 20))) < 1e-12)
    val row = graft.SparkEntry.queries("ir2_ranker_agreement")(spark, sf)
      .collect().head
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getDouble(0) === r6(rbo(a, b, 0.9, 20)))
    assert(row.getLong(2) === a.count(b.toSet).toLong)
    assert(row.getDouble(1) === r6(row.getLong(2).toDouble / 20))
    // the two models genuinely disagree on ordering here: RBO is well
    // below both the identical-ranker max and the plain overlap
    assert(row.getDouble(0) < row.getDouble(1))
  }

  test("LSH ANN recall@5 vs brute force is high at this corpus size") {
    val brute = graft.SparkEntry.queries("s1_ann_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.SparkEntry.queries("s2_ann_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall") // 4 planes / 16 buckets: coarse but real pruning
  }

  test("quantized-candidate ANN recall@5 vs brute force is near-exact") {
    val brute = graft.SparkEntry.queries("s1_ann_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val quant = graft.SparkEntry.queries("s6_ann_quantized")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect quant).size.toDouble / brute.size
    // int8 reconstruction error ≤ (mx-mn)/510 per component barely moves
    // cosine ordering, and the 3× candidate pool absorbs the residue —
    // unlike LSH/IVF this stage scans everything (cheaper bytes), so
    // recall should be near-perfect, not merely "better than random"
    assert(recall >= 0.9, s"recall $recall")
  }

  test("IVF ANN recall@5 vs brute force beats its probe fraction") {
    val brute = graft.SparkEntry.queries("s1_ann_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.SparkEntry.queries("s3_ann_ivf")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // 6/16 cells probed ≈ 37% of the corpus scanned; on isotropic data
    // (worst case for space partitioning) recall must still clearly beat
    // the scanned fraction for the index to be doing real work
    assert(recall >= 0.5, s"recall $recall")
  }

  test("PQ ANN: recall@5 vs brute force, valid codes, deterministic retrain") {
    val brute = graft.SparkEntry.queries("s1_ann_brute")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = graft.SparkEntry.queries("s8_ann_pq")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    // 16 codes of 16 centroids reconstruct 64 isotropic dims coarsely —
    // lossier than s6's int8 — but the ADC candidate stage scans
    // EVERYTHING (code bytes only) and re-ranks a 5× pool at full
    // precision, so recall must land near s6's regime, not LSH/IVF's
    // scanned-fraction regime
    assert(recall >= 0.7, s"recall $recall")

    // codebooks: deterministic across retrains (seeded per subspace),
    // geometry as declared
    import graft.queries.SimilarityQueries
    val cb1 = SimilarityQueries.pqCodebooks(spark, sf)
    val cb2 = SimilarityQueries.pqCodebooks(spark, sf)
    assert(cb1.length === SimilarityQueries.PqM)
    assert(cb1.forall(_.length === SimilarityQueries.PqK))
    assert(cb1.map(_.map(_.toSeq).toSeq).toSeq === cb2.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("pk4 semantic order: valid permutation, deterministic, adjacency beats hash order") {
    val order = graft.SparkEntry.queries("pk4_semantic_order")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val n = order.length
    assert(order.map(_._3).sorted.toSeq === (0L until n).toSeq, "pos must be a permutation")
    // contiguous cells: pos order never returns to an earlier cell
    val cellsInOrder = order.sortBy(_._3).map(_._2)
    assert(cellsInOrder.toSeq === cellsInOrder.sorted.toSeq)

    val order2 = graft.SparkEntry.queries("pk4_semantic_order")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(order2.sortBy(_._1).toSeq === order.sortBy(_._1).toSeq, "determinism")

    // the operator's purpose: consecutive docs are more similar than
    // under the content-blind hash order
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    def adjacency(ids: Seq[Long]): Double =
      ids.sliding(2).map { case Seq(x, y) => cos(vecs(x), vecs(y)) }.toSeq.sum / (ids.size - 1)
    val semantic = adjacency(order.sortBy(_._3).map(_._1).toSeq)
    val hashed = adjacency(vecs.keys.toSeq.sortBy(id =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"sh:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString))
    assert(semantic > hashed,
      s"semantic adjacency $semantic must beat hash order $hashed")
  }

  test("simhash: identical token sets collide, hamming reflects similarity") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: String*) = new GenericArrayData(ws.map(UTF8String.fromString).toArray)
    val a = ExtOps.simhash(arr("the", "quick", "brown", "fox"))
    val b = ExtOps.simhash(arr("fox", "quick", "the", "brown")) // order-insensitive
    val c = ExtOps.simhash(arr("completely", "different", "words", "here"))
    assert(a === b)
    assert(java.lang.Long.bitCount(a ^ c) > 10)
  }

  test("rolling fingerprint: deterministic, content-defined, shift-tolerant") {
    import org.apache.spark.unsafe.types.UTF8String
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away"
    val fp1 = ExtOps.rollingFingerprint(UTF8String.fromString(base), 8, 16).toLongArray().toSet
    val fp2 = ExtOps.rollingFingerprint(UTF8String.fromString(base), 8, 16).toLongArray().toSet
    assert(fp1 === fp2)
    // a prefix insertion preserves most window hashes (content-defined)
    val shifted = "XX " + base
    val fp3 = ExtOps.rollingFingerprint(UTF8String.fromString(shifted), 8, 16).toLongArray().toSet
    val overlap = (fp1 intersect fp3).size.toDouble / math.max(fp1.size, 1)
    assert(overlap > 0.8, s"overlap $overlap")
  }

  test("minhash signature: jaccard estimate tracks exact jaccard") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: Seq[String]) = new GenericArrayData(ws.map(UTF8String.fromString).toArray)
    val xs = (0 until 100).map(i => s"tok$i")
    val ys = (20 until 120).map(i => s"tok$i") // jaccard = 80/120 = 0.667
    val k = 128
    val sa = ExtOps.minhash(arr(xs), k).toLongArray()
    val sb = ExtOps.minhash(arr(ys), k).toLongArray()
    val est = sa.zip(sb).count { case (x, y) => x == y }.toDouble / k
    assert(math.abs(est - 0.667) < 0.15, s"estimate $est")
  }

  test("frame sampling: 1-row-to-N generator stays a map-only plan (no shuffle)") {
    val frames = graft.ext.Multimodal.sampleFrames(
      graft.ext.Multimodal.asMedia(spark, sf), stepMs = 100L) // short docs: force expansion
    val n = frames.count()
    assert(n > 500, s"expansion should yield multiple frames per doc, got $n")
    val p = frames.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "frame expansion must not shuffle")
  }

  test("resize: binary-to-binary transform bounds payload size, deterministic, no shuffle") {
    val media = graft.ext.Multimodal.asMedia(spark, sf)
    val resized = graft.ext.Multimodal.resize(media, maxBytes = 64)
    val rows = resized.collect()
    assert(rows.nonEmpty && rows.forall(_.media.length <= 64))
    // deterministic: same input → byte-identical output
    val again = graft.ext.Multimodal.resize(media, maxBytes = 64).collect()
    assert(rows.sortBy(_.doc_id).zip(again.sortBy(_.doc_id))
      .forall { case (a, b) => java.util.Arrays.equals(a.media, b.media) })
    assert(!resized.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("multimodal stub decode: deterministic, streams through mapPartitions") {
    val feats = Multimodal.extractFeatures(Multimodal.asMedia(spark, sf))
    val rows = feats.collect()
    assert(rows.length === 500)
    assert(rows.forall(f => f.width >= 16 && f.height >= 16 && (1 to 3).contains(f.channels)))
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.asMedia(spark, sf)).collect()
    assert(rows.sortBy(_.doc_id).toSeq === again.sortBy(_.doc_id).toSeq)
  }

  test("multimodal real decode: golden on hand-built RGB + gray PNG bytes") {
    // RGB 3×2 with known per-channel values: mean over ALL samples
    val rgb = new java.awt.image.BufferedImage(
      3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      rgb.setRGB(x, y, (10 << 16) | (20 << 8) | 90) // r=10 g=20 b=90
    val bosRgb = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(rgb, "png", bosRgb)
    val Some((w, h, bands, mean)) = Multimodal.decodeImage(bosRgb.toByteArray)
    assert((w, h, bands) === ((3, 2, 3)))
    assert(mean === (10 + 20 + 90) / 3.0) // exact: every pixel identical
    // gray synthetic round-trip: encode params recovered from real bytes
    for (id <- Seq(0L, 1L, 17L, 255L, 10007L)) {
      val Some((gw, gh, gb, gm)) = Multimodal.decodeImage(Multimodal.syntheticPng(id))
      assert(gw === 4 + (id % 29).toInt, s"id=$id width")
      assert(gh === 4 + ((id * 7) % 23).toInt, s"id=$id height")
      assert(gb === 1, s"id=$id bands")
      assert(gm === ((id * 37) % 256).toDouble, s"id=$id mean")
    }
    // non-image bytes: decode declines, total operator falls back to stub
    assert(Multimodal.decodeImage("not an image".getBytes("UTF-8")).isEmpty)
    // JPEG: lossy codec — dimensions/bands exact, constant-image mean
    // within compression tolerance (the codec-breadth claim is real
    // javax.imageio coverage, not one container)
    val jpgSrc = new java.awt.image.BufferedImage(
      9, 5, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 5; x <- 0 until 9) jpgSrc.setRGB(x, y, (80 << 16) | (80 << 8) | 80)
    val bosJpg = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jpgSrc, "jpg", bosJpg))
    val Some((jw, jh, jb, jm)) = Multimodal.decodeImage(bosJpg.toByteArray)
    assert((jw, jh, jb) === ((9, 5, 3)))
    assert(math.abs(jm - 80.0) <= 2.0, s"jpeg mean $jm")
    // BMP: lossless, exact
    val bosBmp = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(jpgSrc, "bmp", bosBmp))
    val Some((bw, bh, bb, bm)) = Multimodal.decodeImage(bosBmp.toByteArray)
    assert((bw, bh, bb, bm) === ((9, 5, 3, 80.0)))
  }

  test("multimodal real audio decode: golden on synthesized WAV bytes") {
    for (id <- Seq(0L, 1L, 5L, 149L, 10007L)) {
      val Some((rate, ch, frames, mean)) = Multimodal.decodeWav(Multimodal.syntheticWav(id))
      assert(rate === 8000 * (1 + (id % 3).toInt), s"id=$id rate")
      assert(ch === 1 + (id % 2).toInt, s"id=$id channels")
      assert(frames === 100 + (id % 400), s"id=$id frames")
      assert(mean === ((id % 100) - 50).toDouble, s"id=$id mean")
    }
    // non-audio bytes: decode declines, operator totality via stub fallback
    assert(Multimodal.decodeWav("not audio".getBytes("UTF-8")).isEmpty)
  }

  test("multimodal ISO-BMFF parse: goldens on synthesized mp4 (mvhd v0 AND v1)") {
    // even ids → mvhd version 0, odd → version 1: both header layouts
    for (id <- Seq(0L, 1L, 2L, 7L, 148L, 10007L)) {
      val Some((brand, ts, dur, tracks)) =
        Multimodal.parseIsoBmff(Multimodal.syntheticMp4(id))
      assert(brand === "isom", s"id=$id brand")
      assert(ts === 600L * (1 + id % 4), s"id=$id timescale")
      assert(dur === 1000L + id % 9000, s"id=$id duration units")
      assert(tracks === (1 + id % 3).toInt, s"id=$id tracks")
    }
    // non-BMFF bytes decline (the Dataset operator stays total via stub)
    assert(Multimodal.parseIsoBmff("not a video container".getBytes).isEmpty)
    assert(Multimodal.parseIsoBmff(Array.emptyByteArray).isEmpty)
    assert(Multimodal.parseIsoBmff(Multimodal.syntheticPng(3L)).isEmpty)
    // TRUNCATED container (a real failure mode for crawled media): a box
    // whose declared size overruns the payload must reject, not overread
    val whole = Multimodal.syntheticMp4(5L)
    assert(Multimodal.parseIsoBmff(whole.take(whole.length / 2)).isEmpty)
    // size=0 terminal-box convention: last box runs to EOF
    val lastToEof = whole.clone()
    // find the mdat box header (last box) and zero its size field
    val mdatAt = (0 until whole.length - 4).lastIndexWhere(i =>
      whole(i) == 'm' && whole(i + 1) == 'd' && whole(i + 2) == 'a' && whole(i + 3) == 't')
    for (k <- 0 until 4) lastToEof(mdatAt - 4 + k) = 0
    assert(Multimodal.parseIsoBmff(lastToEof).nonEmpty, "size=0 last box parses")
  }

  test("multimodal real resize: bilinear downscale preserves aspect and content") {
    // 28×16 solid gray 77 (id chosen for non-square dims via the synth
    // formulas: 4+24%29=28 wide, 4+24*7%23=16 high... compute directly)
    val id = Seq.range(0L, 700L).find(i =>
      4 + (i % 29) == 28 && 4 + ((i * 7) % 23) == 16).get
    val png = Multimodal.syntheticPng(id)
    val g0 = ((id * 37) % 256).toInt
    val Some(small) = Multimodal.resizeImage(png, maxDim = 7)
    val Some((w, h, _, mean)) = Multimodal.decodeImage(small)
    assert(w === 7, "longest side capped")
    assert(h === 4, s"aspect preserved (28:16 -> 7:4), got $h")
    assert(mean === g0.toDouble, "bilinear of a constant image is the constant")
    // already-fits images pass through byte-identical
    assert(Multimodal.resizeImage(small, 7).get eq small)
    // deterministic
    assert(java.util.Arrays.equals(small, Multimodal.resizeImage(png, 7).get))
    // non-image bytes decline; the Dataset operator stays total via stub
    assert(Multimodal.resizeImage("not an image".getBytes("UTF-8"), 7).isEmpty)
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaRow(1L, png),
      Multimodal.MediaRow(2L, "plain text payload".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.resizeImages(media, maxDim = 7).collect().sortBy(_.doc_id)
    assert(rows(0).width === 7 && rows(0).height === 4)
    assert(rows(1).media.length <= 7) // stub fallback honors the byte bound
    val p = Multimodal.resizeImages(media, 7).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), "resize must stay map-only")
  }

  test("jaccard_sim kernel is bit-identical to the intersect/union formulation") {
    import graft.ext.TextAnalysis.{words, shingles}
    import graft.ext.extfunctions.jaccard_sim
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), shingles(words(col("text")), 2).as("sh"))
      .where(size(col("sh")) > 0).limit(40)
    val pairs = d.select(col("sh").as("sa"))
      .crossJoin(d.select(col("sh").as("sb")))
    val rows = pairs.select(
      jaccard_sim(col("sa"), col("sb")).as("fast"),
      (size(array_intersect(col("sa"), col("sb"))).cast("double") /
        size(array_union(col("sa"), col("sb")))).as("ref")).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(
      java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)), s"$r"))
  }

  test("as-of backward join: nearest prior right row, same-instant visible, null before first") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (1L, 5L, "c"), (2L, 10L, "d"))
      .toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0), (3L, 1L, 9.0))
      .toDF("k", "t", "v")
    val out = graft.ext.AsOf.joinBackward(left, right, Seq("k"), "t", Seq("v"))
      .collect().map(r => (r.getAs[String]("tag"),
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble),
        Option(r.getAs[java.lang.Long]("asof_t")).map(_.toLong))).toSet
    assert(out === Set(
      ("a", Some(1.0), Some(10L)), // same instant: right row visible (>= semantics)
      ("b", Some(2.0), Some(15L)), // nearest prior
      ("c", None, None),           // before any right row
      ("d", None, None)))          // key with no right rows at all
  }

  test("as-of forward join: nearest following right row") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 16L, "b")).toDF("k", "t", "tag")
    val right = Seq((1L, 10L, 1.0), (1L, 15L, 2.0)).toDF("k", "t", "v")
    val out = graft.ext.AsOf.joinForward(left, right, Seq("k"), "t", Seq("v"))
      .collect().map(r => (r.getAs[String]("tag"),
        Option(r.getAs[java.lang.Double]("asof_v")).map(_.toDouble),
        Option(r.getAs[java.lang.Long]("asof_t")).map(_.toLong))).toSet
    assert(out === Set(
      ("a", Some(1.0), Some(10L)), // same instant counts (>=)
      ("b", None, None)))          // nothing after t=16
  }

  test("jaccard kernel property: equals set arithmetic on arbitrary distinct arrays") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    def arr(ws: Seq[String]) =
      new GenericArrayData(ws.distinct.map(UTF8String.fromString).toArray)
    val tokens = Gen.listOf(Gen.oneOf((0 until 30).map(i => s"w$i")))
    val p = Prop.forAll(tokens, tokens) { (xs, ys) =>
      val (a, b) = (xs.distinct.toSet, ys.distinct.toSet)
      val expected =
        if (a.isEmpty || b.isEmpty) 0d
        else a.intersect(b).size.toDouble / a.union(b).size
      java.lang.Double.doubleToLongBits(ExtOps.jaccard(arr(xs), arr(ys))) ==
        java.lang.Double.doubleToLongBits(expected)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("cosine_sim expression matches driver-side double math") {
    import spark.implicits._
    val df = Seq((Array(1f, 2f, 3f), Array(3f, 2f, 1f))).toDF("a", "b")
    val got = df.select(graft.ext.extfunctions.cosine_sim(col("a"), col("b"))).head.getDouble(0)
    val want = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(math.abs(got - want) < 1e-12)
  }

  test("repetition_stats kernel: goldens + brute-force property") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def arr(ws: Seq[String]) =
      new GenericArrayData(ws.map(UTF8String.fromString).toArray)
    def brute(ws: Seq[String], n: Int): (Long, Long, Long) = {
      if (ws.length < n) return (0L, 0L, 0L)
      val grams = ws.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).view.mapValues(_.size.toLong)
      (grams.size.toLong,
        counts.values.filter(_ > 1).sum,
        counts.values.max)
    }
    // "a b a b c" 2-grams: [a b, b a, a b, b c] -> total 4, dup 2, top 2
    val g = ExtOps.repetitionStats(arr(Seq("a", "b", "a", "b", "c")), 2)
    assert((g.getLong(0), g.getLong(1), g.getLong(2)) === ((4L, 2L, 2L)))
    assert(ExtOps.repetitionStats(arr(Seq("a")), 2).getLong(0) === 0L)
    assert(ExtOps.repetitionStats(arr(Nil), 2).getLong(0) === 0L)

    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val tokens = Gen.listOf(Gen.oneOf((0 until 8).map(i => s"w$i")))
    val p = Prop.forAll(tokens, Gen.choose(1, 4)) { (ws, n) =>
      val got = ExtOps.repetitionStats(arr(ws), n)
      (got.getLong(0), got.getLong(1), got.getLong(2)) == brute(ws, n)
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(res.passed, res.status.toString)
  }

  test("t5/t6 text-quality passes are map-only plans (no shuffle at any corpus size)") {
    for (name <- Seq("t5_quality_gopher", "t6_repetition")) {
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
    }
  }

  test("d7 decontamination: benchmark n-gram set is broadcast, never shuffled as a join side") {
    val df = graft.SparkEntry.queries("d7_decontamination")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"benchmark side must broadcast:\n$p")
    // documents that share 4-grams with the benchmark subset are flagged
    assert(df.count() > 0)
  }

  test("p1 PII scrub redacts real emails and phones, counts match") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+x@corp.example.org or call +1-415-555-0101 now"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.co one phone 020-7946-0958")).toDF("doc_id", "text")
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\-]{5,}[0-9]"
    val out = df.select(
      col("doc_id"),
      regexp_count(col("text"), lit(email)).as("n_emails"),
      regexp_count(col("text"), lit(phone)).as("n_phones"),
      regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"), phone, "<PHONE>")
        .as("redacted")).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) === 1 && out(1L).getInt(2) === 1)
    assert(out(1L).getString(3) === "write to <EMAIL> or call <PHONE> now")
    assert(out(2L).getInt(1) === 0 && out(2L).getInt(2) === 0)
    assert(out(3L).getInt(1) === 2 && out(3L).getInt(2) === 1)
    assert(out(3L).getString(3) === "two mails <EMAIL> <EMAIL> one phone <PHONE>")
  }

  test("incremental keep-list = full recompute over base ∪ new pairs") {
    import org.apache.spark.sql.functions.col
    val docs = graft.queries.Tables(spark, sf, "documents").select("doc_id")
    val baseDocs = docs.where(col("doc_id") % 2 === 1)
    val newDocs = docs.where(col("doc_id") % 2 === 0)
    val pairs = graft.queries.DedupQueries.minhashPairs(spark, sf)
      .select("doc_a", "doc_b")
    val basePairs = pairs.where(col("doc_a") % 2 === 1 && col("doc_b") % 2 === 1)
    val newPairs = pairs.where(col("doc_a") % 2 === 0 || col("doc_b") % 2 === 0)
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = toMap(graft.queries.DedupQueries.keepList(pairs, docs))
    val baseKeepers = graft.queries.DedupQueries.keepList(basePairs, baseDocs)
    val inc = toMap(graft.queries.DedupQueries.keepListIncremental(
      baseKeepers, newPairs, newDocs))
    assert(inc === full)
    // the increment genuinely merged something: at least one base doc's
    // keeper changed (or a new doc adopted a base keeper) — otherwise this
    // property would pass vacuously on a pair-free corpus
    val baseMap = toMap(baseKeepers)
    assert(baseMap.exists { case (d, k) => full(d) != k } ||
      full.exists { case (d, k) => d % 2 == 0 && k % 2 == 1 },
      "fixture should contain at least one cross-parity near-dup component")
  }

  test("incremental line dedup = full recompute restricted to the batch") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // hand-built frame where duplication crosses the base/batch boundary:
    // 'nav' is >2 only when base and batch counts combine
    def linesDf(rows: Seq[(Long, Seq[String])]) =
      rows.toDF("doc_id", "lines")
    val base = linesDf(Seq(
      1L -> Seq("nav home about", "unique base one"),
      2L -> Seq("nav home about", "unique base two"),
      3L -> Seq("footer contact us", "unique base three")))
    val batch = linesDf(Seq(
      10L -> Seq("nav home about", "fresh content ten"),       // nav: 3rd occurrence
      11L -> Seq("footer contact us", "fresh content eleven"), // footer: only 2nd — kept
      12L -> Seq("fresh content twelve", "fresh content twelve x")))
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_lines"), r.getAs[Long]("n_dup_lines"),
          r.getAs[String]("deduped"))).toMap
    val full = toMap(graft.queries.DedupQueries.lineDedupOf(
      base.unionByName(batch)))
    val inc = toMap(graft.queries.DedupQueries.lineDedupIncremental(
      graft.queries.DedupQueries.lineCountsOf(base), batch))
    assert(inc === full.view.filterKeys(_ >= 10L).toMap)
    // the boundary case actually fired: nav removed from doc 10, footer kept in 11
    assert(inc(10L)._2 == 1L && !inc(10L)._3.contains("nav"))
    assert(inc(11L)._2 == 0L && inc(11L)._3.contains("footer contact us"))
  }

  test("DSIR frozen-weight scoring = in-corpus scoring; unseen buckets score 0") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val docs = graft.queries.Tables(spark, sf, "documents")
    val weights = graft.queries.SamplingQueries.dsirWeightsOf(docs)
    assert(weights.count() <= graft.queries.SamplingQueries.DsirBuckets)
    // the weight table is the complete state: scoring through the frozen
    // artifact is what dsirOf itself does (one definition), so pin the
    // public contract instead — same corpus, same artifact, same scores
    val scored = graft.queries.SamplingQueries.dsirScoreWith(weights, docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    val again = graft.queries.SamplingQueries.dsirScoreWith(weights, docs)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(scored === again, "frozen-weight scoring must be deterministic")
    // novel content (buckets possible absent at training) still scores —
    // the left join + coalesce prior, not a dropped row
    val novel = Seq((9000L, "xx", "zzqy wvut zzqy wvut zzqy")).toDF("doc_id", "lang", "text")
    val ns = graft.queries.SamplingQueries.dsirScoreWith(weights, novel).collect()
    assert(ns.length == 1 && ns.head.getAs[Long]("n_feats") == 4L)
    // weights trained with an empty target slice: every bucket's ratio is
    // the same Laplace prior — dsirScoreWith still total, never null
    val noTarget = graft.queries.SamplingQueries.dsirWeightsOf(docs, targetLang = "zz")
    val zs = graft.queries.SamplingQueries.dsirScoreWith(noTarget, docs)
    assert(zs.where(col("score").isNull).count() == 0)
  }

  test("d10 substring dedup: hand-built goldens + brute-force property") {
    import spark.implicits._
    // doc 1 and 2 share an 8-word licence block at different offsets; doc 2
    // additionally repeats a 3-gram internally (below n=3 run merging only
    // via consecutive positions); doc 3 is clean
    val licence = "licensed under the apache license version two zero"
    val df = Seq(
      (1L, s"alpha beta gamma $licence delta epsilon"),
      (2L, s"$licence foo bar foo bar foo bar baz"),
      (3L, "completely unique text with no repeated spans anywhere at all")
    ).toDF("doc_id", "text")
    val n = 3
    val got = graft.queries.DedupQueries.substringSpansOf(df, n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    // brute-force oracle in plain Scala: dup position = its n-gram string
    // occurs >1 times across all docs; maximal consecutive runs
    val docs = Seq(
      1L -> s"alpha beta gamma $licence delta epsilon",
      2L -> s"$licence foo bar foo bar foo bar baz",
      3L -> "completely unique text with no repeated spans anywhere at all")
    val wss = docs.map { case (id, t) => id -> t.toLowerCase.trim.split("\\s+").toSeq }
    val allGrams = wss.flatMap { case (_, ws) => ws.sliding(n).filter(_.size == n).map(_.mkString(" ")) }
    val counts = allGrams.groupBy(identity).view.mapValues(_.size).toMap
    val want = wss.flatMap { case (id, ws) =>
      val dupPos = ws.sliding(n).zipWithIndex.collect {
        case (g, i) if g.size == n && counts(g.mkString(" ")) > 1 => i
      }.toSeq
      // merge consecutive
      val runs = dupPos.foldLeft(List.empty[(Int, Int)]) {
        case ((s0, e0) :: rest, p) if p == e0 + 1 => (s0, p) :: rest
        case (acc, p) => (p, p) :: acc
      }.reverse
      runs.map { case (s0, e0) => (id, s0.toLong, (e0 + n).toLong, (e0 - s0 + 1).toLong) }
    }.toSet
    assert(got === want)
    assert(got.exists(_._1 == 1L) && got.exists(_._1 == 2L), "shared licence block found in both docs")
    assert(!got.exists(_._1 == 3L), "clean doc reports no spans")
    // doc 2's internal repeat ("foo bar foo" family) is found without any
    // cross-doc copy — same-doc repetition counts, as in a suffix array
    assert(got.count(_._1 == 2L) >= 2)
  }

  test("d11/d12: span coverage and scrub agree with a brute-force token-set oracle") {
    import spark.implicits._
    val licence = "licensed under the apache license version two zero"
    val rows = Seq(
      (1L, s"alpha beta gamma $licence delta epsilon"),
      (2L, s"$licence foo bar foo bar foo bar baz"),
      (3L, "completely unique text with no repeated spans anywhere at all"),
      (4L, licence)) // fully covered -> coverage 1.0, scrub to empty
    val df = rows.toDF("doc_id", "text")
    val n = 3
    // brute force: covered = union of [p, p+n) over positions whose n-gram
    // occurs >1 times corpus-wide
    val wss = rows.map { case (id, t) => id -> t.toLowerCase.trim.split("\\s+").toSeq }
    val counts = wss.flatMap { case (_, ws) =>
      ws.sliding(n).filter(_.size == n).map(_.mkString(" ")) }
      .groupBy(identity).view.mapValues(_.size).toMap
    val covered = wss.map { case (id, ws) =>
      id -> ws.sliding(n).zipWithIndex.collect {
        case (g, i) if g.size == n && counts(g.mkString(" ")) > 1 => i until (i + n)
      }.flatten.toSet
    }.toMap

    val cov = graft.queries.DedupQueries.mergedSpanExtents(df, n)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(r => r.getLong(1) -> r.getLong(2))).toMap
    for ((id, ws) <- wss) {
      val got = cov.getOrElse(id, Array.empty[(Long, Long)])
        .flatMap { case (s, e) => s until e }.toSet
      assert(got.map(_.toInt) === covered(id), s"doc $id covered-token set")
      // merged intervals are disjoint and non-adjacent-overlapping
      val sorted = cov.getOrElse(id, Array.empty[(Long, Long)]).sortBy(_._1)
      sorted.sliding(2).foreach {
        case Array((_, e1), (s2, _)) => assert(s2 > e1, s"doc $id intervals must be disjoint")
        case _ =>
      }
    }
    // scrubbed text = words outside the covered set, in order (the d12
    // word-filter shape over this toy frame)
    val got12 = {
      val iv = graft.queries.DedupQueries.mergedSpanExtents(df, n)
      df.select($"doc_id", graft.ext.TextAnalysis.words($"text").as("ws"))
        .join(iv.groupBy("doc_id").agg(
          org.apache.spark.sql.functions.collect_list(
            org.apache.spark.sql.functions.struct($"s", $"e")).as("iv")), Seq("doc_id"), "left")
        .withColumn("kept", org.apache.spark.sql.functions.when($"iv".isNull, $"ws")
          .otherwise(org.apache.spark.sql.functions.filter($"ws", (_, i) =>
            !org.apache.spark.sql.functions.exists($"iv", x =>
              i.cast("long") >= x.getField("s") && i.cast("long") < x.getField("e")))))
        .select($"doc_id", org.apache.spark.sql.functions.concat_ws(" ", $"kept").as("t"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    for ((id, ws) <- wss) {
      val want = ws.zipWithIndex.collect { case (w, i) if !covered(id)(i) => w }.mkString(" ")
      assert(got12(id) === want, s"doc $id scrubbed text")
    }
    assert(got12(4L) === "", "fully-duplicated doc scrubs to empty")
  }

  test("bottom_k aggregate = row_number window selection, through a real exchange") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    // deterministic pseudo-random scores incl. ties and ±0.0; 16 input
    // partitions force partial buffers + serialize/merge across the shuffle
    val df = spark.range(0, 2000, 1, 16)
      .select((col("id") % 7).as("g"), col("id").as("vec_id"),
        (sin(col("id") * 12.9898) * lit(1000)).cast("long").cast("double")
          .divide(100).as("s"))
    val w = Window.partitionBy("g").orderBy(col("s").desc, col("vec_id").asc)
    val viaWindow = df.withColumn("rn", row_number().over(w)).where(col("rn") <= 9)
      .select("g", "vec_id", "s").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaAgg = df.groupBy("g")
      .agg(bottom_k(struct((-col("s")).as("ns"), col("vec_id").as("vec_id")), 9).as("top"))
      .select(col("g"), explode(col("top")).as("t"))
      .select(col("g"), col("t.vec_id"), (-col("t.ns")).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAgg === viaWindow)
    // the output array is sorted ascending by the struct ordering
    val arr = df.where(col("g") === 0)
      .agg(bottom_k(struct(col("s"), col("vec_id")), 5).as("top"))
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(arr.map(_.getDouble(0)) === arr.map(_.getDouble(0)).sorted)
    // groups smaller than k return all their rows
    val small = Seq((1L, 1.0), (2L, 2.0)).toDF("vec_id", "s")
      .agg(bottom_k(struct(col("s"), col("vec_id")), 100).as("top"))
      .head.getSeq[org.apache.spark.sql.Row](0)
    assert(small.length === 2)
    // SQL registration path
    graft.functions.registerAll(spark)
    df.createOrReplaceTempView("bk_in")
    val viaSql = spark.sql(
      """SELECT g, t.vec_id AS vec_id, -t.ns AS s
        |FROM (SELECT g, explode(bottom_k(struct(-s AS ns, vec_id), 9)) AS t
        |      FROM bk_in GROUP BY g)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaSql === viaWindow)
  }

  test("compression ratio discriminates repetitive < prose < high-entropy and is partition-invariant") {
    import graft.ext.TextAnalysis
    // deterministic fixtures: pure repetition, natural-ish prose, and a
    // seeded pseudo-random alphanumeric string (near-incompressible)
    val rng = new scala.util.Random(42)
    val noise = Iterator.continually(rng.alphanumeric.take(1)).flatten.take(2000).mkString
    val rows = Seq(
      (1L, "the cat sat on the mat " * 100),          // repetitive
      (2L, ("the quick brown fox jumps over a lazy dog near the riverbank " +
        "while seventeen sparrows argue about crumbs and territory ") * 10 +
        noise.take(400)),                              // mixed prose
      (3L, noise),                                     // high entropy
      (4L, ""))                                        // empty — totality
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
    def collectRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val got = collectRows(TextAnalysis.compressionRatios(df))

    val (rep, prose, ent, empty) = (got(1L), got(2L), got(3L), got(4L))
    assert(rep._4 < prose._4 && prose._4 < ent._4,
      s"ordering violated: $rep $prose $ent")
    assert(rep._4 < 0.05, s"pure repetition should collapse: $rep")
    assert(ent._4 > 0.6, s"seeded noise should stay near-incompressible: $ent")
    got.values.foreach { case (nb, mb, db, r) =>
      assert(db > 0 && r > 0.0, "DEFLATE of any input (even empty) emits bytes")
      assert(nb >= 0 && mb === math.min(nb, 1L << 20))
    }
    assert(empty._1 === 0L)

    // partitioning-invariance: per-partition Deflater state never leaks
    // across rows (reset per doc), so any layout yields identical rows
    val repart = collectRows(TextAnalysis.compressionRatios(df.repartition(7, col("text"))))
    assert(repart === got)

    // giant-doc cap: the ratio covers exactly the first maxBytes, full
    // size still reported — a pathological document can't stall its task
    val capped = collectRows(TextAnalysis.compressionRatios(df, maxBytes = 100))
    capped.foreach { case (id, (nb, mb, _, _)) =>
      assert(nb === got(id)._1)
      assert(mb === math.min(nb, 100L))
    }
    // and the capped ratio equals the uncapped ratio of the truncated text
    val trunc = spark.createDataFrame(
      rows.map { case (id, t) =>
        (id, new String(t.getBytes("UTF-8").take(100), "UTF-8")) })
      .toDF("doc_id", "text")
    val truncGot = collectRows(TextAnalysis.compressionRatios(trunc))
    capped.foreach { case (id, (_, _, db, r)) =>
      assert(db === truncGot(id)._3 && r === truncGot(id)._4)
    }

    // map-only contract: no exchange in the plan
    val plan = TextAnalysis.compressionRatios(df).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"t11 must not shuffle:\n$plan")
  }

  test("LR quality classifier: parity with the plain-Scala reference, loss decreases, beats prior") {
    import graft.ext.Classifier
    val docs = spark.read.parquet(s"$sf/documents.parquet")

    // deterministic hash split (sp1's shape): ~80/20 train/held-out
    val split = docs.withColumn("heldout",
      substring(md5(concat(lit("qc1:"), col("doc_id").cast("string"))), 1, 2) >= "cc")
    val train = split.where(!col("heldout"))
    val test = split.where(col("heldout"))
    val labelsOf = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("doc_id"), (col("lang") === "en").cast("double").as("y"))

    val iters = 12
    val (w, losses) = Classifier.train(Classifier.features(train), labelsOf(train), iters)

    // 1. exact-algorithm parity vs the textbook reference on the SAME
    //    features (bpe1's anchor pattern; tolerance covers partial-agg
    //    summation-order ULP only)
    val featRows = Classifier.features(train).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getDouble(2)))
      .groupBy(_._1).map { case (id, fs) => id -> fs.map(f => (f._2, f._3)).toSeq }
    val ys = labelsOf(train).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val refDocs = ys.keys.toSeq.sorted.map(id =>
      (id, featRows.getOrElse(id, Seq.empty), ys(id)))
    val (wRef, lossesRef) = Classifier.referenceTrain(refDocs, iters, 2.0)
    w.zip(wRef).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)), s"weight drift: $a vs $b")
    }
    losses.zip(lossesRef).foreach { case (a, b) => assert(math.abs(a - b) <= 1e-9) }

    // 2. training loss strictly decreases (lr is in the stable regime)
    losses.sliding(2).foreach { case Array(a, b) => assert(b < a, s"loss rose: $a -> $b") }

    // 3. held-out accuracy beats the class prior (majority baseline)
    val scored = Classifier.score(test, w).join(labelsOf(test), "doc_id")
    val n = scored.count().toDouble
    val acc = scored.where((col("predicted") && col("y") === 1.0) ||
      (!col("predicted") && col("y") === 0.0)).count() / n
    val prior = math.max(ys.values.sum / ys.size, 1.0 - ys.values.sum / ys.size)
    assert(acc > prior, s"held-out accuracy $acc should beat prior $prior")

    // 4. determinism: retraining yields the same weights
    val (w2, _) = Classifier.train(Classifier.features(train), labelsOf(train), iters)
    assert(w.toSeq === w2.toSeq)
  }

  test("header-only image parse: dims match the real decode across PNG/JPEG/GIF/BMP") {
    // the mm6 contract: on any byte string BOTH paths decode, the header
    // walk and the full pixel decode must agree on dimensions — the fast
    // path answers the same question at header-bytes cost.
    // Known caveats (header declines rather than disagreeing, except GIF):
    //  - GIF reports LOGICAL-SCREEN dims; an animated/cropped-frame GIF's
    //    first image descriptor can be smaller, where ImageIO's decode
    //    returns the frame dims. ImageIO-written GIFs (this fixture) are
    //    full-screen, so the contract holds here.
    //  - OS/2 BITMAPCOREHEADER BMPs (DIB size 12) return None — only the
    //    BITMAPINFOHEADER family (40/52/56/108/124) is parsed.
    // Additionally: a BMP with a non-INFOHEADER DIB size or non-positive
    // width must decline, not emit garbage dims (asserted below).
    for (id <- Seq(0L, 1L, 17L, 255L, 10007L)) {
      val png = Multimodal.syntheticPng(id)
      val Some((fmt, w, h)) = Multimodal.parseImageHeader(png)
      val Some((dw, dh, _, _)) = Multimodal.decodeImage(png)
      assert((fmt, w, h) === (("png", dw, dh)), s"id=$id")
    }
    val src = new java.awt.image.BufferedImage(
      23, 11, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 11; x <- 0 until 23) src.setRGB(x, y, (x * 11 + y) << 8)
    for (fmt <- Seq("jpg", "gif", "bmp")) {
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(src, fmt, bos), s"writer for $fmt")
      val bytes = bos.toByteArray
      val Some((pf, w, h)) = Multimodal.parseImageHeader(bytes)
      val Some((dw, dh, _, _)) = Multimodal.decodeImage(bytes)
      assert((w, h) === ((dw, dh)), s"$fmt dims: header ($w,$h) vs decode ($dw,$dh)")
      assert(pf === (if (fmt == "jpg") "jpeg" else fmt))
    }
    // truncation mid-header and non-image payloads decline — the Dataset
    // operator stays total via the stub fallback
    assert(Multimodal.parseImageHeader(Multimodal.syntheticPng(3L).take(20)).isEmpty)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "jpg", jbos)
    assert(Multimodal.parseImageHeader(jbos.toByteArray.take(4)).isEmpty)
    assert(Multimodal.parseImageHeader("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.parseImageHeader(Array.emptyByteArray).isEmpty)
    // an OS/2 BITMAPCOREHEADER BMP (DIB size 12, u16 dims at 18/20) must
    // decline — its u16 fields would otherwise parse as one garbage i32
    val os2 = java.nio.ByteBuffer.allocate(32).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    os2.put('B'.toByte).put('M'.toByte).putInt(32).putInt(0).putInt(26)
      .putInt(12).putShort(23).putShort(11).putShort(1).putShort(24)
    assert(Multimodal.parseImageHeader(os2.array()).isEmpty)
    // and a claimed-INFOHEADER BMP with non-positive width declines too
    val badW = java.nio.ByteBuffer.allocate(64).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    badW.put('B'.toByte).put('M'.toByte).putInt(64).putInt(0).putInt(54)
      .putInt(40).putInt(0).putInt(11)
    assert(Multimodal.parseImageHeader(badW.array()).isEmpty)
  }

  test("dHash: equal for identical pixels, near for planted copies, far across families") {
    val families = 50
    // identical bytes → identical hash (trivially), but also: a family
    // PRIMARY and its re-encode agree bit-for-bit
    val base0 = Multimodal.syntheticNearDupPng(0L, families)
    assert(Multimodal.dHash(base0) === Multimodal.dHash(base0.clone()))
    // planted near-dup copies stay within the mmd1 verify threshold
    for (id <- Seq(50L, 100L, 207L, 363L, 499L)) {
      val fam = id % families
      val ham = java.lang.Long.bitCount(
        Multimodal.dHash(Multimodal.syntheticNearDupPng(fam, families)).get ^
          Multimodal.dHash(Multimodal.syntheticNearDupPng(id, families)).get)
      assert(ham <= 3, s"id=$id vs family base: hamming $ham")
    }
    // unrelated family textures land ~32 bits apart — far above threshold
    val hashes = (0L until 10L).map(f =>
      Multimodal.dHash(Multimodal.syntheticNearDupPng(f, families)).get)
    for (i <- hashes.indices; j <- hashes.indices if i < j) {
      val ham = java.lang.Long.bitCount(hashes(i) ^ hashes(j))
      assert(ham > 3, s"families $i,$j too close: $ham")
    }
    // non-image payloads decline
    assert(Multimodal.dHash("not an image".getBytes("UTF-8")).isEmpty)
  }

  test("dHash closed-form model (the mmd1 SQL oracle's contract) matches the real decode") {
    // mmd1's DIRECT oracle re-derives the hash arithmetically; this pins
    // its one empirical premise against THIS JVM's Java2D: each 9x8
    // sample = round-half-up of the mean of the 4 source pixels at
    // (4x+1..4x+2, 4y+1..4y+2). A JDK that changed the bilinear kernel
    // would fail here before it could silently break the oracle.
    val families = 50
    def modelHash(docId: Long): Long = {
      val px = Array.tabulate(32, 36)((y, x) =>
        (graft.ext.ExtOps.splitmix64(
          (docId % families) * 1000003L + x / 4 + (y / 4) * 16) & 0xff).toInt)
      if (docId >= families) {
        var k = 0
        while (k < 3) {
          val p = (graft.ext.ExtOps.splitmix64(docId * 31 + k) & 0x7fffffff) % (36 * 32)
          val x = (p % 36).toInt; val y = (p / 36).toInt
          px(y)(x) = math.min(255, math.max(0,
            px(y)(x) + (if (docId % 2 == 0) 4 else -4)))
          k += 1
        }
      }
      def s(x: Int, y: Int): Int = math.floor((px(4 * y + 1)(4 * x + 1) +
        px(4 * y + 1)(4 * x + 2) + px(4 * y + 2)(4 * x + 1) +
        px(4 * y + 2)(4 * x + 2)) / 4.0 + 0.5).toInt
      var h = 0L
      for (y <- 0 until 8; x <- 0 until 8) {
        h <<= 1; if (s(x, y) > s(x + 1, y)) h |= 1L
      }
      h
    }
    for (id <- 0L until 600L)
      assert(modelHash(id) ===
        Multimodal.dHash(Multimodal.syntheticNearDupPng(id, families)).get,
        s"closed-form dHash model diverged from Java2D at doc $id")
  }

  test("audioHash closed-form model (the mmd2 SQL oracle's contract) matches the real decode") {
    // mmd2's oracle premise: generation windows align with the
    // fingerprint's 65 energy windows, so each bit is
    // floor(amp_k) > floor(amp_{k+1}) with amp = (base[*rf])*gain in
    // IEEE double — the exact expression the SQL evaluates.
    val families = 50
    def modelHash(docId: Long): Long = {
      val family = (docId % families).toInt
      val copy = docId >= families
      val gain = if (copy) 1.0 + ((docId % 16).toInt + 1) / 200.0 else 1.0
      val ripple =
        if (copy) ((graft.ext.ExtOps.splitmix64(docId * 17 + 3) & 0x7fffffffL) % 65).toInt
        else -1
      val es = Array.tabulate(65) { w =>
        val base = ((graft.ext.ExtOps.splitmix64(
          family.toLong * 1000003L + w) & 0x3fffL) + 256L).toDouble
        val rippled = if (w == ripple) base * (if (docId % 2 == 0) 1.02 else 0.98) else base
        math.floor(rippled * gain)
      }
      var h = 0L
      for (k <- 0 until 64) { h <<= 1; if (es(k) > es(k + 1)) h |= 1L }
      h
    }
    for (id <- 0L until 600L)
      assert(modelHash(id) ===
        Multimodal.audioHash(Multimodal.syntheticNearDupWav(id, families)).get,
        s"closed-form audioHash model diverged from the JDK decode at doc $id")
  }

  test("mmd1 band join equals brute-force Hamming<=3 pairs (pigeonhole recall 1.0)") {
    val got = graft.SparkEntry.queries("mmd1_image_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent brute force over the same fixture's hashes
    val hs = (0L until 500L).map(id =>
      id -> Multimodal.dHash(Multimodal.syntheticNearDupPng(id, 50)).get)
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain perceptual near-dups")
    assert(got === brute, "4x16-bit banding must have exact recall at t=3")
    // perceptual near-dups only occur within a planted family — a
    // cross-family match would mean the hash stopped discriminating
    got.foreach { case (a, b) => assert(a % 50 === b % 50, s"cross-family pair ($a,$b)") }
  }

  test("html extraction is total on arbitrary tag soup") {
    import graft.ext.HtmlText
    // crawl bytes are adversarial: unclosed tags, stray ampersands, nested
    // brokenness. The scanner must never throw and must return SOMETHING
    // sane for every input — seeded generative soup over a hostile palette
    val palette = "<>&;/!-= \n\tabpdiv\"'0#xscript".toCharArray
    val rnd = new scala.util.Random(20260814L)
    for (_ <- 1 to 500) {
      val n = rnd.nextInt(300)
      val soup = new String(Array.fill(n)(palette(rnd.nextInt(palette.length))))
      val out = HtmlText.extract(soup) // must not throw
      assert(out != null)
      // kept text never contains raw markup boundaries from well-formed
      // tags (a stray '<' that isn't a tag is legitimately text)
      assert(!out.contains("<script"), soup)
      // the anchor scanner shares the totality bar on the same soup
      val as = HtmlText.anchors(soup)
      assert(as != null && as.forall(_.href.nonEmpty), soup)
    }
    // pathological but structured cases
    assert(HtmlText.extract("<" * 1000) != null)
    assert(HtmlText.extract("&amp" * 500) != null)
    assert(HtmlText.extract("<p>" + "a" * 100) === "a" * 100) // unclosed block flushes at EOF
    assert(HtmlText.extract("<a href='x'>" + "b" * 100) === "") // all-link block dies
    // big-input linearity sanity: 1 MB of paragraphs parses in well under
    // a second quiet (measured ~0.1 s); the bound exists to catch an
    // accidental O(n²) (which would take minutes here). MIN-OF-3: this is
    // a wall-clock assert inside a 32-way suite on a sandbox with
    // documented multi-second co-tenant stalls — a single sample once
    // flaked the full run (r14's 268/269); one stall window won't cover
    // three separated samples, and a real quadratic inflates all three.
    val big = ("<p>" + "word " * 40 + "</p>") * 5000
    val secs = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val bigOut = HtmlText.keptBlocks(big)
      assert(bigOut.size === 5000)
      (System.nanoTime() - t0) / 1e9
    }.min
    assert(secs < 5.0, f"1 MB page took $secs%.1f s (min of 3)")
  }

  test("audioHash: gain-invariant for re-masters, near for planted copies, far across families") {
    val families = 50
    // deterministic: identical bytes → identical hash
    val base0 = Multimodal.syntheticNearDupWav(0L, families)
    assert(Multimodal.audioHash(base0) === Multimodal.audioHash(base0.clone()))
    // planted re-masters (gain + one-window ripple) stay within ≤ 2 bits
    // of their family base BY CONSTRUCTION (only the rippled window's two
    // adjacent comparisons can flip; gain alone flips none)
    for (id <- Seq(50L, 100L, 207L, 363L, 499L)) {
      val fam = id % families
      val ham = java.lang.Long.bitCount(
        Multimodal.audioHash(Multimodal.syntheticNearDupWav(fam, families)).get ^
          Multimodal.audioHash(Multimodal.syntheticNearDupWav(id, families)).get)
      assert(ham <= 2, s"id=$id vs family base: hamming $ham")
    }
    // unrelated family melodies land ~32 bits apart — far above threshold
    val hashes = (0L until 10L).map(f =>
      Multimodal.audioHash(Multimodal.syntheticNearDupWav(f, families)).get)
    for (i <- hashes.indices; j <- hashes.indices if i < j) {
      val ham = java.lang.Long.bitCount(hashes(i) ^ hashes(j))
      assert(ham > 3, s"families $i,$j too close: $ham")
    }
    // non-audio payloads and too-short clips decline
    assert(Multimodal.audioHash("not audio".getBytes("UTF-8")).isEmpty)
    // container invariance = fast-path/fallback parity: the same PCM
    // wrapped as canonical WAV (direct RIFF byte walk) and as big-endian
    // AU (AudioSystem fallback + byte-order normalization) must
    // fingerprint identically — sound, not container, is what's hashed
    for (id <- Seq(0L, 7L, 123L)) {
      val wav = Multimodal.syntheticNearDupWav(id, families)
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      val bos = new java.io.ByteArrayOutputStream()
      javax.sound.sampled.AudioSystem.write(in,
        javax.sound.sampled.AudioFileFormat.Type.AU, bos)
      in.close()
      val au = bos.toByteArray
      assert(!java.util.Arrays.equals(wav, au))
      assert(Multimodal.audioHash(au) === Multimodal.audioHash(wav), s"id=$id")
    }
  }

  test("mmd2 band join equals brute-force Hamming<=3 pairs over audio fingerprints") {
    val got = graft.SparkEntry.queries("mmd2_audio_neardup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // independent brute force over the same fixture's hashes
    val hs = (0L until 500L).map(id =>
      id -> Multimodal.audioHash(Multimodal.syntheticNearDupWav(id, 50)).get)
    val brute = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(brute.nonEmpty, "fixture must contain perceptual near-dups")
    assert(got === brute, "4x16-bit banding must have exact recall at t=3")
    // matches only occur within a planted family
    got.foreach { case (a, b) => assert(a % 50 === b % 50, s"cross-family pair ($a,$b)") }
    // every base↔copy pair is found (recall 1.0 on the ≤2-bit plants)
    val expectedBaseCopy = (50L until 500L).map(id => (id % 50, id)).toSet
    assert(expectedBaseCopy.subsetOf(got), "a planted re-master went undetected")
  }

  test("unicode_clean: NFC + newline + control goldens, idempotent, codegen path") {
    import graft.ext.extfunctions.unicode_clean
    import spark.implicits._
    def clean(s: String): String =
      graft.ext.ExtOps.unicodeClean(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toString
    // NFC: decomposed accent composes; already-composed unchanged
    assert(clean("Café") === "Café")
    assert(clean("Café") === "Café")
    // newlines: CRLF and bare CR both become LF; LF/TAB survive
    assert(clean("a\r\nb\rc\nd\te") === "a\nb\nc\nd\te")
    // C0/C1 controls stripped (BEL, VT, DEL, C1 0x85)
    assert(clean("xyzwv") === "xyzwv")
    assert(clean("") === "")
    // idempotence: a cleaned string is a fixed point
    val messy = "Café du\r\nmonde fin\r"
    assert(clean(clean(messy)) === clean(messy))
    // the Expression path (codegen) agrees with the kernel
    val viaDf = Seq(messy).toDF("s")
      .select(unicode_clean(col("s"))).collect().head.getString(0)
    assert(viaDf === clean(messy))
    // local Seq frames collapse to LocalTableScan — use a Range input so
    // the plan actually generates code
    val plan = spark.range(2)
      .select(unicode_clean(concat(lit(messy), col("id").cast("string"))))
      .queryExecution.executedPlan.toString
    // the `*(n)` prefix is the WholeStageCodegen marker in this rendering
    assert(plan.contains("*(1) Project"), s"unicode_clean must stay in codegen:\n$plan")
  }

  test("image near-dup pairs feed the standard keeper election (cross-modal compose)") {
    // the dedup machinery is modality-agnostic: mmd1's perceptual pairs
    // drop into d6's connected-component keeper election unchanged. The
    // planted fixture makes the expectation exact: every family's pairs
    // form a complete graph, so each family elects its min doc_id — which
    // is the family id itself (ids 0..49 are the family primaries)
    val pairs = graft.SparkEntry.queries("mmd1_image_neardup")(spark, sf)
      .select(col("doc_a"), col("doc_b"))
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id")
    val keep = graft.queries.DedupQueries.keepList(pairs, docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(keep.size === 500)
    keep.foreach { case (doc, keeper) =>
      assert(keeper === doc % 50, s"doc $doc elected $keeper") }
  }

  test("bottom_k plans as ObjectHashAggregate with partial aggregation (no all-rows exchange)") {
    val df = spark.range(0, 1000, 1, 8)
      .select((col("id") % 5).as("g"), col("id").as("vec_id"), rand(7).as("s"))
    val plan = df.groupBy("g")
      .agg(bottom_k(struct(col("s"), col("vec_id")), 5).as("top"))
      .queryExecution.executedPlan.toString
    // two ObjectHashAggregate spans (partial below the exchange, final above):
    // each task ships at most groups×k rows of heap state, never its raw rows
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("html extraction: boilerplate stripped, content kept, per the rule family") {
    import graft.ext.HtmlText
    // the synthetic fixture end-to-end: every boilerplate class dies,
    // exactly the content paragraphs survive, in order
    for (id <- Seq(0L, 1L, 5L, 17L, 123456L)) {
      val kept = HtmlText.keptBlocks(HtmlText.syntheticHtml(id))
      val nParas = 1 + (id % 4).toInt
      assert(kept.size === nParas, s"id=$id")
      for (i <- 0 until nParas) {
        val reps = 1 + ((id + i) % 3).toInt
        val expected = s"Section $i of document $id: " +
          (if (i == 0) "reference link " else "") +
          "lorem ipsum dolor sit amet " * reps +
          "consectetur & adipiscing."
        assert(kept(i) === expected, s"id=$id i=$i")
      }
    }
    // rule-by-rule edges
    val longProse = "This paragraph is long enough to clear the minimum length rule."
    // 1. an all-links block dies on link density even when long
    assert(HtmlText.keptBlocks(
      s"""<div><a href="/a">${longProse.take(30)}</a><a href="/b">${longProse.take(30)}</a></div>""")
      .isEmpty)
    // 2. a long prose block with a short citation link survives, link text kept
    val withCite = HtmlText.keptBlocks(
      s"""<p>$longProse See <a href="/x">this</a> too.</p>""")
    assert(withCite === Vector(s"$longProse See this too."))
    // 3. short blocks die even with zero links
    assert(HtmlText.keptBlocks("<p>too short</p>").isEmpty)
    // 4. raw-text elements never leak, even with markup-looking strings inside
    assert(HtmlText.extract(
      s"""<script>var s = "</p><p>ghost paragraph that is long enough</p>";</script><p>$longProse</p>""")
      === longProse)
    // 5. unclosed raw-text element swallows to end-of-input (browser behavior)
    assert(HtmlText.extract(s"<p>$longProse</p><script>var x = 1;") === longProse)
    // 6. head subtree (incl. title) is dropped entirely
    assert(HtmlText.extract(
      s"<html><head><title>A headline long enough to pass length</title></head><body><p>$longProse</p></body></html>")
      === longProse)
    // 7. entity decoding: named, numeric, hex; malformed passes through
    assert(HtmlText.decodeEntities("a &amp; b &#65; &#x42; &nope; &#xZZ; c")
      === "a & b A B &nope; &#xZZ; c")
    // 8. a stray '<' is text, not a tag
    assert(HtmlText.extract(s"<p>$longProse where 1 < 2 holds.</p>")
      === s"$longProse where 1 < 2 holds.")
    // 9. whitespace collapses within a block; blocks keep their boundaries
    assert(HtmlText.keptBlocks(
      s"<p>  ${longProse.replace(" ", "\n \t ")}  </p><p>$longProse</p>")
      === Vector(longProse, longProse))
    // 10. '>' inside a QUOTED attribute value (inline JS handlers,
    // data-attrs — common in real crawl HTML) is tag content, not tag
    // end: nothing from the attribute leaks into the extracted block
    assert(HtmlText.extract(
      s"""<p onclick="if (x > 1) go()">$longProse</p>""") === longProse)
    assert(HtmlText.extract(
      s"""<p data-cond='a > b' class="x">$longProse</p>""") === longProse)
    // 11. an UNQUOTED attribute value ending in '/' is the value's last
    // char, not a self-closing marker: the <a> really opens, so its text
    // counts as link text and the all-link block dies
    assert(HtmlText.extract(s"<a href=https://x.example/>$longProse</a>") === "")
    // while a genuinely self-closing <a/> leaves aDepth at zero
    assert(HtmlText.extract(s"""<a href="y"/><p>$longProse</p>""") === longProse)
  }

  test("outlink extraction: hrefs in document order, scanner-grade edge cases") {
    import graft.ext.HtmlText
    // the linked fixture end-to-end: nav, citation, related, share — in order
    for (id <- Seq(0L, 1L, 17L, 123456L)) {
      val ls = HtmlText.outlinks(HtmlText.syntheticLinkedHtml(id))
      val rel = HtmlText.LinkMultipliers.zipWithIndex.map { case (p, j) =>
        s"https://host${(id * p + j + 1) % HtmlText.LinkHosts}.example/page$id" }
      assert(ls === Vector("/", "/about", "/contact", "/ref") ++ rel ++
        Vector("/tw", "/fb"), s"id=$id")
    }
    // quoted value containing '>'; unquoted value; single quotes
    assert(HtmlText.outlinks(
      """<a data-x="1 > 0" href="/q">x</a><a href=/unq>y</a><a href='/sq'>z</a>""")
      === Vector("/q", "/unq", "/sq"))
    // href must be an attribute NAME: a value containing "href=" does not count
    assert(HtmlText.outlinks("""<a title="see href=/fake here" href="/real">x</a>""")
      === Vector("/real"))
    // anchors without href, empty href, and non-anchor hrefs are skipped
    assert(HtmlText.outlinks(
      """<a name="top">x</a><a href="">y</a><link href="/css"><area href="/map">""")
      === Vector.empty)
    // script/comment content never yields links; entities decode
    assert(HtmlText.outlinks(
      """<script>var s = '<a href="/ghost">';</script><!-- <a href="/ghost2"> -->
        |<a href="/r?a=1&amp;b=2">x</a>""".stripMargin)
      === Vector("/r?a=1&b=2"))
    // total on tag soup
    assert(HtmlText.outlinks("<a href=" * 500) != null)
    assert(HtmlText.outlinks("<" * 1000) === Vector.empty)
  }

  test("url kernels: normalization rules and frontier resolution") {
    import graft.ext.Urls
    // the url1 rule set, one rule per case
    assert(Urls.normalize("https://a.example/p#frag") === "https://a.example/p")
    assert(Urls.normalize("HTTPS://A.Example/CaseKept") === "https://a.example/CaseKept")
    assert(Urls.normalize("https://a.example:443/p") === "https://a.example/p")
    assert(Urls.normalize("https://a.example/p?utm_source=feed&ref=2") ===
      "https://a.example/p?ref=2")
    assert(Urls.normalize("https://a.example/p?utm_campaign=x") === "https://a.example/p")
    assert(Urls.normalize("not a url") === "not a url") // total
    // resolution: absolute passes, root-relative resolves, rest skipped
    assert(Urls.resolve("https://h.example/page", "https://x.example/q")
      === Some("https://x.example/q"))
    assert(Urls.resolve("https://h.example/page", "/about")
      === Some("https://h.example/about"))
    assert(Urls.resolve("https://h.example/page", "rel/path") === None)
    assert(Urls.resolve("https://h.example/page", "//proto.example/q") === None)
    assert(Urls.resolve("https://h.example/page", "mailto:x@y") === None)
  }

  test("best-fit packing: ≡ textbook BFD per shard, deterministic, capacity-safe") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val cap = 256L
    // shards=1 → the whole corpus through ONE sequential BFD: must equal
    // the plain-Scala textbook run bin-for-bin
    val got = graft.ext.Packing.bestFitBins(docs, "doc_id",
        size(graft.ext.TextAnalysis.words(col("text"))), cap, shards = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val weights = docs.select(col("doc_id"),
        least(size(graft.ext.TextAnalysis.words(col("text"))).cast("long"), lit(cap)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def refBfd(ds: Seq[(Long, Long)]): Map[Long, Long] = {
      val sorted = ds.sortBy { case (i, w) => (-w, i) }
      val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
      sorted.map { case (i, w) =>
        // best fit: smallest remaining >= w; oldest bin on ties
        val cands = fills.zipWithIndex.filter { case (f, _) => cap - f >= w }
        val bin =
          if (cands.isEmpty) { fills += 0L; fills.length - 1 }
          else cands.minBy { case (f, b) => (cap - f - w, b) }._2
        fills(bin) += w
        i -> bin.toLong
      }.toMap
    }
    val want = refBfd(weights)
    assert(got.map(r => r._1 -> r._3).toMap === want)
    // sharded run: deterministic, total, capacity-safe, BFD bound per shard
    def run() = graft.ext.Packing.bestFitBins(docs, "doc_id",
        size(graft.ext.TextAnalysis.words(col("text"))), cap, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    val a = run()
    assert(a === run(), "determinism across runs")
    assert(a.map(_._1).distinct.size === weights.length, "every doc exactly once")
    val fills = a.groupBy(_._3).map { case (b, rs) => b -> rs.map(_._2).sum }
    assert(fills.values.forall(_ <= cap))
    fills.groupBy(_._1 >> 32).foreach { case (sh, bins) =>
      assert(bins.values.count(_ * 2 <= cap) <= 1,
        s"shard $sh: more than one under-half bin (BFD bound)")
    }
    // the raison d'être: fewer bins than pk1's truncating block count is
    // not guaranteed, but padding waste must beat NAIVE one-doc-per-bin
    assert(fills.size < weights.length)
  }

  test("robots.txt: RFC 9309 group selection, wildcard/anchor rules, longest-match, ties") {
    import graft.ext.Robots
    val txt =
      """# corpus-wide robots fixture
        |User-agent: otherbot
        |Disallow: /
        |
        |User-agent: graftbot
        |User-agent: thirdbot
        |Disallow: /private/
        |Allow: /private/public$
        |Disallow: /*.pdf$
        |Allow: /
        |
        |User-agent: *
        |Disallow: /tmp/
        |""".stripMargin
    val r = Robots.parse(txt, "graftbot")
    assert(r.permits("/")) // Allow: /
    assert(!r.permits("/private/x")) // Disallow /private/ (9) beats Allow / (1)
    assert(r.permits("/private/public")) // anchored allow (16) beats /private/ (9)
    assert(!r.permits("/private/public2")) // $ anchor misses, /private/ applies
    assert(!r.permits("/docs/file.pdf")) // wildcard + anchor
    assert(r.permits("/docs/file.pdfx")) // $ means END — falls through to Allow /
    assert(r.permits("/tmp/x")) // the * group is NOT graftbot's group
    // unknown agent gets the * group
    val star = Robots.parse(txt, "unknownbot")
    assert(!star.permits("/tmp/x") && star.permits("/other"))
    // totality: empty/null bodies allow everything
    assert(Robots.parse("", "g").permits("/anything"))
    assert(Robots.parse(null, "g").permits("/x"))
    // the classic allow-all idiom: empty Disallow matches nothing
    assert(Robots.parse("User-agent: *\nDisallow:", "g").permits("/x"))
    // equal-length tie: Allow wins (RFC 9309 §2.2.2)
    val t = Robots.parse("User-agent: *\nAllow: /dir\nDisallow: /dir", "g")
    assert(t.permits("/dir/x"))
    // prefix-token agent match: group "graft" governs "graftbot"
    val p = Robots.parse("User-agent: graft\nDisallow: /a\nUser-agent: *\nDisallow: /b", "graftbot")
    assert(!p.permits("/a") && p.permits("/b"))
    // pathOf
    assert(Robots.pathOf("https://h.example/a/b?q=1") === "/a/b?q=1")
    assert(Robots.pathOf("https://h.example") === "/")
  }
}
