package graft.queries

import graft.ext.TextAnalysis._
import graft.ext.extfunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operator inventory over the `documents` table. */
object TextQueries {

  import QueryDef._

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  private val t1Tokens = withOracle("t1_tokens",
    s"""SELECT doc_id,
       |       len(string_split_regex(lower(trim(text)), '\\s+')) AS n_ws_tokens,
       |       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS n_bpe_tokens
       |FROM documents""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(
      col("doc_id"),
      size(words(col("text"))).as("n_ws_tokens"),
      regexp_count(col("text"), lit(BpePattern)).as("n_bpe_tokens"))
  }

  /** Quality scoring: length, alpha/space/punct ratios, mean token length,
    * distinct-word ratio — the standard cheap text-quality features. */
  private val t2Quality = withOracle("t2_quality",
    """SELECT doc_id,
      |       length(text) AS n_chars,
      |       round(cast(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1), 4) AS alpha_ratio,
      |       round(cast(length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
      |             / greatest(length(text), 1), 4) AS punct_ratio,
      |       round(cast(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
      |             / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1), 4) AS distinct_word_ratio
      |FROM documents""".stripMargin) { (s, dir) =>
    val t = col("text")
    val ws = words(t)
    Tables(s, dir, "documents").select(
      col("doc_id"),
      length(t).as("n_chars"),
      round(length(regexp_replace(t, "[^A-Za-z]", "")).cast("double") /
        greatest(length(t), lit(1)), 4).as("alpha_ratio"),
      round(length(regexp_replace(t, "[A-Za-z0-9\\s]", "")).cast("double") /
        greatest(length(t), lit(1)), 4).as("punct_ratio"),
      round(size(array_distinct(ws)).cast("double") /
        greatest(size(ws), lit(1)), 4).as("distinct_word_ratio"))
  }

  /** Language ID: distinct-stopword-evidence scores + deterministic argmax.
    * (The corpus text is synthetic; the operator is what's under test.) */
  private val t3LangId = withOracle("t3_langid", {
    def score(stop: Seq[String]): String = {
      val list = stop.map(w => s"'$w'").mkString(", ")
      s"""round(cast(len(list_intersect(list_distinct(string_split_regex(lower(trim(text)), '\\s+')), [$list])) AS DOUBLE)
         | / greatest(len(list_distinct(string_split_regex(lower(trim(text)), '\\s+'))), 1), 4)""".stripMargin
    }
    s"""WITH scored AS (
       |  SELECT doc_id,
       |         ${score(Stopwords("en"))} AS score_en,
       |         ${score(Stopwords("de"))} AS score_de,
       |         ${score(Stopwords("es"))} AS score_es
       |  FROM documents)
       |SELECT doc_id, score_en, score_de, score_es,
       |       CASE WHEN score_en >= score_de AND score_en >= score_es THEN 'en'
       |            WHEN score_de >= score_es THEN 'de'
       |            ELSE 'es' END AS predicted_lang
       |FROM scored""".stripMargin
  }) { (s, dir) =>
    val ws = words(col("text"))
    Tables(s, dir, "documents")
      .select(col("doc_id"),
        langScore(ws, "en").as("score_en"),
        langScore(ws, "de").as("score_de"),
        langScore(ws, "es").as("score_es"))
      .withColumn("predicted_lang",
        predictLang(col("score_en"), col("score_de"), col("score_es")))
  }

  /** Winnowing-style rolling-hash document fingerprint (custom codegen'd
    * expression). The kernel returns a sorted-distinct array<long>; the
    * gate query emits it comma-joined (canonical, and hashable by the
    * driver's pandas compare — raw arrays are not).
    *
    * FULL oracle (r10, upgraded from rows-only): the fingerprint is a
    * deterministic pure function, so DuckDB recomputes it end-to-end —
    * per-window Rabin-Karp hashes rebuilt DIRECTLY from precomputed
    * `B^k mod 2^64` power constants over `ord()` char codes (the gate
    * corpus is ASCII, so chars ≡ UTF-8 bytes; the Scala kernel's Long
    * wraparound IS mod-2^64 arithmetic), the `≡ 0 (mod 16)` keep rule,
    * and splitmix64 finalization via macros that do 64×64-bit multiplies
    * overflow-safely in HUGEINT (32-bit-split mulmod — a full product
    * would overflow INT128). A deliberately different formulation: no
    * rolling subtraction, no sequential state. */
  private val t4DocFp = withOracle("t4_doc_fingerprint",
    // B = 1000003; constants below are B^k mod 2^64 (k = 7..0) and the
    // splitmix64 constants (additive; then the two multiplicative ones
    // split hi32/lo32 for the overflow-safe mulmod)
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
      |      graft_mix3(graft_mix2(graft_mix1(x))) >> 31);
      |CREATE OR REPLACE MACRO graft_signed64(x) AS
      |  CASE WHEN x >= CAST(9223372036854775808 AS UBIGINT)
      |       THEN CAST(CAST(x AS HUGEINT) - 18446744073709551616 AS BIGINT)
      |       ELSE CAST(x AS BIGINT) END;
      |WITH ch AS (
      |  SELECT doc_id,
      |         list_transform(range(1, length(text) + 1), i -> ord(text[i])) AS cs,
      |         length(text) AS n
      |  FROM documents),
      |hs AS (
      |  SELECT doc_id,
      |         list_transform(range(7, n), e ->
      |           graft_u64(CAST(cs[e-6] AS HUGEINT) * 12924618581234127435 +
      |                     CAST(cs[e-5] AS HUGEINT) * 10923514805226455897 +
      |                     CAST(cs[e-4] AS HUGEINT) * 14453212906556403763 +
      |                     CAST(cs[e-3] AS HUGEINT) * 14003818205314896721 +
      |                     CAST(cs[e-2] AS HUGEINT) * 1000009000027000027 +
      |                     CAST(cs[e-1] AS HUGEINT) * 1000006000009 +
      |                     CAST(cs[e]   AS HUGEINT) * 1000003 +
      |                     CAST(cs[e+1] AS HUGEINT))) AS hset
      |  FROM ch),
      |kept AS (
      |  SELECT doc_id,
      |         list_sort(list_distinct(
      |           list_transform(list_filter(hset, h -> h % 16 = 0),
      |                          x -> graft_signed64(graft_smix(x))))) AS fps
      |  FROM hs)
      |SELECT doc_id,
      |       coalesce(list_aggregate(
      |         list_transform(fps, f -> CAST(f AS VARCHAR)), 'string_agg', ','), '') AS fp,
      |       CAST(len(fps) AS INT) AS n_fp
      |FROM kept""".stripMargin) { (s, dir) =>
    // NULL text → NULL kernel output; coalesce both projections to the
    // empty-document rendering ("" / 0) so fp and n_fp stay consistent
    // (concat_ws alone would render NULL as "" while size stays NULL)
    val fp = rolling_fingerprint(col("text"), window = 8, mod = 16)
    Tables(s, dir, "documents").select(
      col("doc_id"),
      concat_ws(",", coalesce(fp, array()).cast("array<string>")).as("fp"),
      size(coalesce(fp, array())).as("n_fp"))
  }

  /** Gopher-rule quality signals (Rae et al. 2021 §A1.1, public): word
    * count bounds, mean word length, alpha-word ratio, stopword ratio,
    * symbol-to-word ratio, and the combined pass/fail gate. Map-only —
    * every signal is a higher-order fold over the word array inside one
    * projection, so the filter runs at scan throughput at 100 TB. */
  private val t5Gopher = withOracle("t5_quality_gopher",
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents)
      |SELECT doc_id,
      |       len(ws) AS n_words,
      |       round(cast(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE)
      |             / greatest(len(ws), 1), 4) AS mean_word_len,
      |       round(cast(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
      |             / greatest(len(ws), 1), 4) AS alpha_word_ratio,
      |       round(cast(len(list_filter(ws, x -> list_contains(['the','a','and','of','to','in','is','it','that','for'], x))) AS DOUBLE)
      |             / greatest(len(ws), 1), 4) AS stopword_ratio,
      |       round(cast(len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE)
      |             / greatest(len(ws), 1), 4) AS symbol_word_ratio,
      |       CASE WHEN len(ws) BETWEEN 50 AND 100000
      |             AND cast(list_sum(list_transform(ws, x -> len(x))) AS DOUBLE) / greatest(len(ws), 1) BETWEEN 3 AND 10
      |             AND cast(len(list_filter(ws, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(ws), 1) >= 0.8
      |             AND cast(len(list_filter(ws, x -> contains(x, '#') OR contains(x, '...'))) AS DOUBLE) / greatest(len(ws), 1) <= 0.1
      |            THEN true ELSE false END AS passes_gopher
      |FROM w""".stripMargin) { (s, dir) =>
    val ws = words(col("text"))
    val nWords = size(ws)
    val denom = greatest(nWords, lit(1))
    // LongType accumulator: an IntegerType fold wraps negative past 2^31
    // total characters (the gate kernel was fixed the same way)
    val meanLen = aggregate(ws, lit(0L), (a, x) => a + length(x)).cast("double") / denom
    val alphaRatio = size(filter(ws, _.rlike("[a-z]"))).cast("double") / denom
    val stops = Stopwords("en")
    val stopRatio = size(filter(ws, _.isin(stops: _*))).cast("double") / denom
    val symbolRatio =
      size(filter(ws, x => x.contains("#") || x.contains("..."))).cast("double") / denom
    Tables(s, dir, "documents").select(
      col("doc_id"),
      nWords.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(alphaRatio, 4).as("alpha_word_ratio"),
      round(stopRatio, 4).as("stopword_ratio"),
      round(symbolRatio, 4).as("symbol_word_ratio"),
      gopherPasses(col("text")).as("passes_gopher"))
  }

  /** Gopher-rule repetition signals: duplicate-2-gram fraction (share of
    * 2-gram instances whose 2-gram occurs more than once) and top-2-gram
    * fraction. The kernel ([[graft.ext.ExtOps.repetitionStats]]) is one
    * O(words) hashmap pass per document — map-only, where the SQL
    * formulation (unnest + double GROUP BY, what the oracle runs) would
    * shuffle every n-gram instance of the corpus twice. */
  private val t6Repetition = withOracle("t6_repetition",
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws), 1)),
      |                                       i -> ws[i] || ' ' || ws[i+1])) AS gram
      |  FROM w),
      |c AS (SELECT doc_id, gram, count(*) AS n FROM g GROUP BY 1, 2)
      |SELECT doc_id,
      |       cast(sum(n) AS BIGINT) AS n_2grams,
      |       round(cast(sum(CASE WHEN n > 1 THEN n ELSE 0 END) AS DOUBLE) / sum(n), 4) AS dup_2gram_frac,
      |       round(cast(max(n) AS DOUBLE) / sum(n), 4) AS top_2gram_frac
      |FROM c GROUP BY 1""".stripMargin) { (s, dir) =>
    val st = repetition_stats(words(col("text")), 2)
    Tables(s, dir, "documents")
      .select(col("doc_id"), st.as("st"))
      .where(col("st.n_grams") > 0) // oracle emits no row for gram-less docs
      .select(
        col("doc_id"),
        col("st.n_grams").as("n_2grams"),
        round(col("st.dup_grams").cast("double") / col("st.n_grams"), 4)
          .as("dup_2gram_frac"),
        round(col("st.top_gram").cast("double") / col("st.n_grams"), 4)
          .as("top_2gram_frac"))
  }

  /** PII scrub: email/phone detection + redaction counts. The corpus is
    * synthetic word soup, so the gate query plants a deterministic email
    * and phone per document (both engines construct the identical string)
    * and then scrubs — exercising detection, replacement, and count parity
    * across regex engines on real matches. Map-only scan-throughput pass;
    * the patterns are RE2-safe (validated constructs only). */
  private val p1PiiScrub = withOracle("p1_pii_scrub", {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\-]{5,}[0-9]"
    s"""WITH t AS (
       |  SELECT doc_id,
       |         text || ' contact user' || doc_id || '@example.com or +1-202-555-0' ||
       |           lpad(cast(doc_id % 1000 AS VARCHAR), 3, '0') AS text
       |  FROM documents)
       |SELECT doc_id,
       |       len(regexp_extract_all(text, '$email')) AS n_emails,
       |       len(regexp_extract_all(text, '$phone')) AS n_phones,
       |       regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
       |                      '$phone', '<PHONE>', 'g') AS redacted
       |FROM t""".stripMargin
  }) { (s, dir) =>
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\+?[0-9][0-9()\\-]{5,}[0-9]"
    val t = concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or +1-202-555-0"),
      lpad((col("doc_id") % 1000).cast("string"), 3, "0"))
    Tables(s, dir, "documents").select(
      col("doc_id"),
      regexp_count(t, lit(email)).as("n_emails"),
      regexp_count(t, lit(phone)).as("n_phones"),
      regexp_replace(regexp_replace(t, email, "<EMAIL>"), phone, "<PHONE>")
        .as("redacted"))
  }

  /** Luhn check-digit validity of a digit-string column — the verifier
    * that separates a real card number from any 16-digit run (ISO/IEC
    * 7812; the standard PII-scrub upgrade over pattern-only matching:
    * ~90% of random digit runs fail it). Pure fold inside codegen. */
  private def luhnValid(s: Column): Column = {
    val rev = reverse(s)
    val total = aggregate(sequence(lit(1), length(rev)), lit(0), (acc, j) => {
      val d = rev.substr(j, lit(1)).cast("int")
      acc + when(j % 2 === 0,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    length(s) > 0 && total % 10 === 0
  }

  /** P2: credit-card PII with Luhn VERIFICATION — p1's detect-and-redact
    * upgraded to detect → verify → conditionally redact: a 16-digit run
    * is only PII when its check digit validates, so pattern-only
    * scrubbing both over-redacts (order ids, hashes) and under-protects
    * (no verification signal for triage). The fixture plants one
    * deterministic 16-digit candidate per doc (valid for ~1 in 10 docs —
    * validity COMPUTED, not planted, so both engines run the full
    * verifier); detection is a real regex extract over the text.
    * Map-only scan pass, RE2-safe pattern. */
  private val p2PiiLuhn = withOracle("p2_pii_luhn",
    """WITH t AS (
      |  SELECT doc_id,
      |         '4' || lpad(CAST((doc_id*37) % 1000000000 AS VARCHAR), 15, '0') AS cand,
      |         text FROM documents),
      |x AS (
      |  SELECT doc_id, text || ' card ' || cand AS text,
      |         regexp_extract(text || ' card ' || cand, '[0-9]{16}', 0) AS cc_found
      |  FROM t),
      |v AS (
      |  SELECT doc_id, text, cc_found,
      |         len(cc_found) > 0 AND
      |         list_sum(list_transform(range(1, len(reverse(cc_found))+1), j ->
      |           CASE WHEN j % 2 = 0 THEN
      |             CASE WHEN CAST(reverse(cc_found)[j] AS INT)*2 > 9
      |                  THEN CAST(reverse(cc_found)[j] AS INT)*2 - 9
      |                  ELSE CAST(reverse(cc_found)[j] AS INT)*2 END
      |           ELSE CAST(reverse(cc_found)[j] AS INT) END)) % 10 = 0 AS cc_valid
      |  FROM x)
      |SELECT doc_id, cc_found, cc_valid,
      |       CASE WHEN cc_valid THEN replace(text, cc_found, '<CC>') ELSE text END
      |         AS redacted
      |FROM v""".stripMargin) { (s, dir) =>
    val cand = concat(lit("4"),
      lpad(((col("doc_id") * 37) % 1000000000).cast("string"), 15, "0"))
    val t = Tables(s, dir, "documents")
      .select(col("doc_id"), concat(col("text"), lit(" card "), cand).as("text"))
      .withColumn("cc_found", regexp_extract(col("text"), "[0-9]{16}", 0))
      .withColumn("cc_valid", luhnValid(col("cc_found")))
    t.select(col("doc_id"), col("cc_found"), col("cc_valid"),
      when(col("cc_valid"), replace(col("text"), col("cc_found"), lit("<CC>")))
        .otherwise(col("text")).as("redacted"))
  }

  /** T7: rarity-weighted top terms per document — the tf-idf family with an
    * exact cross-engine weight (tf/df instead of tf·log(N/df): one IEEE
    * division is bit-deterministic across engines, `ln` is not). Corpus
    * shape at scale: one exchange to (doc, term) with map-side partial
    * counts, one vocabulary-keyed aggregation for document frequency, a
    * term-keyed join whose df side AQE broadcasts while the vocabulary
    * fits, and a WindowGroupLimit top-3 per doc (each task keeps 3 rows per
    * doc before the exchange). No corpus-sized state anywhere. */
  private val t7RareTerms = withOracle("t7_rare_terms",
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
      |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
      |s AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |         CAST(tf.tf AS DOUBLE) / df.df AS score,
      |         row_number() OVER (PARTITION BY tf.doc_id
      |                            ORDER BY CAST(tf.tf AS DOUBLE) / df.df DESC, tf.term) AS rn
      |  FROM tf JOIN df USING (term))
      |SELECT doc_id, term, tf, df, score FROM s WHERE rn <= 3""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    // r17 NOTE (guide §1.1/§1.2, measured): tf feeds the df aggregate AND
    // the scoring join, so the tokenize+aggregate subtree evaluates twice
    // — but a localCheckpoint of the (doc_id, term, tf) frame MEASURED
    // SLOWER at sf0.1 (t7 1.11 → 1.51 s, window-normalized): the
    // recompute is one cheap explode+partial-agg while the checkpoint
    // materializes a corpus-sized frame and serializes an extra job. The
    // double evaluation stays — same verdict as d13's r8 positions-only
    // experiment: materialization only pays when the recomputed subtree
    // is expensive (per-instance hashing / heavy string synthesis).
    val tf = Tables(s, dir, "documents")
      .select(col("doc_id"), explode(words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val score = col("tf").cast("double") / col("df")
    tf.join(df, "term")
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(score.desc, col("term"))))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), score.as("score"))
  }

  /** T8: per-language quality gating — keep documents at or above their
    * language's median quality (the CCNet-style move: a global threshold
    * would let a high-resource language's distribution set the bar for
    * every other). Score = t2's distinct-word ratio (engine-parity already
    * proven); threshold = per-language exact median.
    *
    * Scale shape: thresholds are ONE ROW PER LANGUAGE — a broadcast-sized
    * frame however big the corpus — so the gate itself is a map-side probe
    * at scan throughput; the corpus is never windowed or sorted (a
    * percent_rank-per-language window would sort 100 TB into ~30 language
    * partitions — maximal skew). The exact `percentile_disc` threshold
    * aggregation is the oracle-pinned semantics; `sketchQuantiles = true`
    * (or conf `spark.graft.sketchQuantiles=true`) swaps it for
    * `dd_quantile(dd_hist(score), 0.5)` — mergeable constant-size DDSketch
    * partials (α = 1 %), the 100 TB path: per-group state stops growing
    * with group size, same pairing as q9 ↔ q9_approx. Accuracy vs exact is
    * a QueriesSpec property. */
  def qualityGateOf(docs: DataFrame, sketchQuantiles: Boolean = false): DataFrame = {
    val ws = words(col("text"))
    val scored = docs.select(
      col("doc_id"), col("lang"),
      (size(array_distinct(ws)).cast("double") / greatest(size(ws), lit(1))).as("score"))
    val th =
      if (sketchQuantiles)
        scored.groupBy("lang")
          .agg(graft.functions.dd_quantile(
            graft.functions.dd_hist(col("score")), 0.5).as("thresh"))
      else scored.groupBy("lang")
        .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY score)").as("thresh"))
    scored.join(broadcast(th), "lang")
      .where(col("score") >= col("thresh"))
      .select(col("doc_id"), col("lang"),
        round(col("score"), 4).as("score"), round(col("thresh"), 4).as("thresh"))
  }

  /** `spark.graft.sketchQuantiles=true` switches the percentile passes
    * (t8, rp3) to DDSketch partials — the documented at-scale path. */
  private[graft] def sketchQuantilesEnabled(s: SparkSession): Boolean =
    s.conf.getOption("spark.graft.sketchQuantiles").exists(_.toBoolean)

  private val t8QualityGate = withOracle("t8_quality_gate",
    """WITH s AS (
      |  SELECT doc_id, lang,
      |         cast(len(list_distinct(string_split_regex(lower(trim(text)), '\s+'))) AS DOUBLE)
      |         / greatest(len(string_split_regex(lower(trim(text)), '\s+')), 1) AS score
      |  FROM documents),
      |th AS (SELECT lang, quantile_disc(score, 0.5) AS thresh FROM s GROUP BY 1)
      |SELECT s.doc_id, s.lang, round(s.score, 4) AS score, round(th.thresh, 4) AS thresh
      |FROM s JOIN th USING (lang)
      |WHERE s.score >= th.thresh""".stripMargin) { (s, dir) =>
    qualityGateOf(Tables(s, dir, "documents"), sketchQuantilesEnabled(s))
  }

  /** T9: n-gram LM quality scoring — the CCNet-shape perplexity filter
    * with the LM trained in-pipeline: bigram counts from a deterministic
    * reference half (`doc_id % 2 = 0`), count-pruned (≥3) to bound the
    * model, then every ≥2-word document scored by its mean Laplace
    * log-probability ln((c2+1)/(c1+V)). The marginals c1 are derived from
    * the PRUNED bigram table so the model is self-consistent, and V is
    * its distinct-continuation vocabulary. Low scores = text unlike the
    * reference distribution — the standard LM quality gate.
    *
    * Scale shape: LM construction is one partial-agg exchange over the
    * reference half's bigrams (uniform keys); the pruning threshold is
    * the model-size knob (a harsher cut → broadcastable LM; CCNet ships
    * pruned LMs for exactly this reason). Scoring is two left equi-joins
    * on uniform token keys + one partial-agg fold back to per-doc rows —
    * AQE broadcasts the pruned model when it fits, and nothing
    * corpus-sized is ever sorted or windowed. round(4) masks the
    * partial-agg summation-order and last-ulp ln() divergence between
    * engines (the t2/s5 precedent). */
  /** The t9 LM CTE chain as oracle-SQL text, parameterized by the final
    * select — shared verbatim between t9 and cur2 so the two gates can
    * never drift. */
  private[graft] def lmScoreCtes: String =
    """w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
      |  FROM documents),
      |b AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
      |         unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
      |  FROM w WHERE len(ws) >= 2),
      |c2 AS (SELECT w1, w2, count(*) AS c2 FROM b
      |       WHERE doc_id % 2 = 0 GROUP BY w1, w2 HAVING count(*) >= 3),
      |c1 AS (SELECT w1, sum(c2) AS c1 FROM c2 GROUP BY w1),
      |v AS (SELECT count(DISTINCT w2) AS v FROM c2),
      |s AS (SELECT b.doc_id,
      |             ln((coalesce(c2.c2, 0) + 1.0)
      |                / CAST(coalesce(c1.c1, 0) + v.v AS DOUBLE)) AS lp
      |      FROM b LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1)
      |      CROSS JOIN v),
      |sc AS (SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 4) AS lm_score
      |       FROM s GROUP BY doc_id)""".stripMargin

  /** Per-doc LM scores (doc_id, n_bigrams, lm_score) — t9's body, exposed
    * so cur2 composes the identical scorer (one definition, no drift). */
  /** The trained bigram table (c2) gets a TTL-memoized persist (r10): the
    * scoring join uses c2 directly AND derives c1/V from it, and without
    * a materialization point each consumer re-runs the corpus-sized
    * bigram explode that builds it — the probe-side b explode then makes
    * 3 corpus explodes per lmScores evaluation. The table itself is
    * MODEL-sized (distinct surviving bigrams), the natural artifact a
    * real pipeline materializes. Measured at sf0.1 (t9): 1.88 → 1.00 s
    * in the same degraded-machine window (and under r9's healthier-window
    * 1.14 s); cur2's mix rides the same cut. */
  private val lmC2Cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (DataFrame, Long)]()
  graft.queries.DedupQueries.registerCorpusCache(lmC2Cache)

  private[graft] def lmScores(s: SparkSession, dir: String): DataFrame = {
    val ws = words(col("text"))
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), ws.as("ws"))
      .where(size(col("ws")) >= 2)
    val b = base.select(col("doc_id"),
      explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = graft.queries.DedupQueries.memoizedPersisted(lmC2Cache, s, dir) {
      b.where(col("doc_id") % 2 === 0)
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
        .where(col("c2") >= 3)
    }
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val v = c2.agg(countDistinct(col("w2")).as("v"))
    val lp = log((coalesce(col("c2"), lit(0L)) + lit(1.0)) /
      (coalesce(col("c1"), lit(0L)) + col("v")).cast("double"))
    b.join(c2, Seq("w1", "w2"), "left")
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(col("doc_id"), lp.as("lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("lp")), 4).as("lm_score"))
  }

  private val t9LmScore = withOracle("t9_lm_score",
    s"""WITH $lmScoreCtes
       |SELECT doc_id, n_bigrams, lm_score FROM sc""".stripMargin) { (s, dir) =>
    lmScores(s, dir)
  }

  /** BPE1: learned tokenizer merges — the tokenizer-TRAINING step (t1's
    * counting is serving-side). 256 BPE merge rules learned from the
    * corpus word-frequency dictionary via the BATCHED trainer
    * ([[graft.ext.Bpe.batchedMerges]], 64 disjoint rules per recount
    * round): one corpus pass builds the dictionary, then ~4 rounds of
    * vocab-sized pair partial-aggs — the scale shape a 32k-rule tokenizer
    * needs (the sequential one-job-per-rule loop is driver-paced: a day
    * of scheduler round trips at real vocab sizes, regardless of cluster
    * width). Iterative argmax isn't ANSI-expressible → rows-only; ExtSpec
    * pins (a) the sequential trainer exactly against a plain-Scala
    * textbook implementation and (b) the batched trainer at batch=1
    * exactly against the sequential one. */
  private val bpe1Merges = rowsOnly("bpe1_merges") { (s, dir) =>
    import s.implicits._
    val dict = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    graft.ext.Bpe.batchedMerges(dict, 256, 64)
      .toDF("step", "left", "right", "merged", "pair_count")
      .select(col("step").cast("long").as("step"), col("left"), col("right"),
        col("merged"), col("pair_count"))
  }

  /** bpe1's ORACLE-CHECKED companion: the iterative argmax trainer isn't
    * ANSI-expressible, but its output's defining structure is —
    *   - every rule's merged token is exactly left || right;
    *   - steps are the contiguous range 0..n−1 (distinct, gap-free);
    *   - every rule's pair count is ≥ 1 (a rule is only learnable from
    *     an observed pair);
    *   - the FIRST rule is the true argmax over the initial character-
    *     pair counts (chars + the </w> sentinel), re-derived here with
    *     the trainer's own (count desc, left asc, right asc) tie-break
    *     through an independent explode + aggregate + top-1 plan.
    * Reduced to values DuckDB derives from `documents` alone. */
  private val bpe1Invariants = withOracle("bpe1_merge_invariants",
    """WITH w AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |  FROM documents)
      |SELECT CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_words,
      |       TRUE AS merged_is_concat,
      |       TRUE AS steps_contiguous,
      |       TRUE AS counts_positive,
      |       TRUE AS first_merge_is_argmax
      |FROM w WHERE w != ''""".stripMargin) { (s, dir) =>
    val rules = bpe1Merges.fn(s, dir).localCheckpoint(false)
    val dict = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false) // feeds the word count AND the pair recount
    // initial symbol sequence: characters + the </w> sentinel
    val sym = concat(
      transform(sequence(lit(1), length(col("w"))), i => col("w").substr(i, lit(1))),
      array(lit(graft.ext.Bpe.Eow)))
    val firstPair = dict
      .select(col("cnt"), sym.as("sym"))
      .select(col("cnt"), posexplode(slice(col("sym"), 1, 1024)).as(Seq("p", "l")),
        col("sym"))
      .where(col("p") < size(col("sym")) - 1)
      .select(col("l"), element_at(col("sym"), col("p") + 2).as("r"), col("cnt"))
      .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pc"))
      .orderBy(col("pc").desc, col("l").asc, col("r").asc)
      .limit(1)
    val structural = rules.agg(
      count(lit(1)).as("n_rules"),
      every(col("merged") === concat(col("left"), col("right")))
        .as("merged_is_concat"),
      (countDistinct(col("step")) === count(lit(1)) &&
        min(col("step")) === 1 && max(col("step")) === count(lit(1)))
        .as("steps_contiguous"), // steps are 1-indexed (rule #1 is step 1)
      every(col("pair_count") >= 1).as("counts_positive"))
    val first = rules.where(col("step") === 1)
      .join(broadcast(firstPair),
        col("left") === col("l") && col("right") === col("r") &&
          col("pair_count") === col("pc"))
      .agg((count(lit(1)) === 1).as("first_merge_is_argmax"))
    dict.agg(count(lit(1)).as("n_distinct_words"))
      .crossJoin(broadcast(structural.drop("n_rules")))
      .crossJoin(broadcast(first))
      .select(col("n_distinct_words"), col("merged_is_concat"),
        col("steps_contiguous"), col("counts_positive"),
        col("first_merge_is_argmax"))
  }

  /** TOK1: the corpus tokenized with the LEARNED tokenizer — bpe1's
    * artifact put to work end-to-end: train the merge rules once
    * (dictionary-sized iterations), broadcast them as a literal into a
    * map-side `encodeWords` fold, count each doc's subword units. The
    * per-doc unit count is what token-budget mixing (sm4) and packing
    * (pk1/pk3) consume when the budget is denominated in REAL tokenizer
    * units instead of t1's whitespace proxy. Training isn't
    * ANSI-expressible → rows-only; the encode itself is pinned exact vs
    * the textbook implementation in ExtSpec (train AND encode). */
  private val tok1BpeTokens = rowsOnly("tok1_bpe_tokens") { (s, dir) =>
    // REAL-vocab tokenizer serving (r10 advice): train up to 32k rules
    // with the batched trainer (256 disjoint rules per recount round —
    // the corpus's learnable-pair supply, not the step budget, is what
    // actually bounds the rule count at gate SFs), then serve through
    // the mapPartitions rank-encode kernel: the per-rule Catalyst fold
    // chain is infeasible past a few dozen rules, the kernel is
    // rule-count-independent per word and memoizes per partition.
    // n_bpe_units is the TRUE per-doc unit total (Σ units over words) —
    // the token-budget denomination sm4/pk1 consume.
    val dict = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val rules = graft.ext.Bpe.batchedMerges(dict, 32000, 256).map(r => (r._2, r._3))
    graft.ext.Bpe.bpeUnitCounts(Tables(s, dir, "documents"), rules)
  }

  /** tok1's serving kernel under an invariant-checked oracle (the
    * rh4/pk4/a3 ladder): for ANY learned rule set, per doc the unit
    * total is bounded by `n_words ≤ n_bpe_units ≤ Σ(len(w)+1)` (every
    * word is at least one unit; merges only ever reduce the char+EOW
    * symbol count), and `n_words` itself is oracle-exact. A broken
    * rank-encode kernel (dropped words, over-merging, EOW mishandling)
    * violates one of the three. Trained at a small budget — the bounds
    * are rule-set-independent. */
  private val tok1Invariants = withOracle("tok1_unit_invariants",
    """WITH w AS (SELECT doc_id,
      |            string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents)
      |SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
      |       TRUE AS units_ge_words, TRUE AS units_le_syms
      |FROM w""".stripMargin) { (s, dir) =>
    val dict = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val rules = graft.ext.Bpe.batchedMerges(dict, 512, 256).map(r => (r._2, r._3))
    val counts = graft.ext.Bpe.bpeUnitCounts(Tables(s, dir, "documents"), rules)
    val syms = Tables(s, dir, "documents")
      .select(col("doc_id"), aggregate(words(col("text")), lit(0L),
        (acc, w) => acc + length(w) + 1).as("n_syms"))
    counts.join(syms, "doc_id")
      .select(col("doc_id"), col("n_words"),
        (col("n_bpe_units") >= col("n_words")).as("units_ge_words"),
        (col("n_bpe_units") <= col("n_syms")).as("units_le_syms"))
  }

  /** T10: C4-style line-level cleaning (Raffel et al. 2020 §2.2, public):
    * keep lines with ≥5 words that end in terminal punctuation and don't
    * contain the policy token "javascript"; drop whole pages containing a
    * curly brace (code) or left with fewer than 3 surviving lines. The
    * corpus is single-line word soup, so (the p1 precedent) the gate
    * synthesizes the line structure deterministically in BOTH engines:
    * 8-word lines, with punctuation / policy / brace markers planted as
    * pure functions of (doc_id, line index) — what's under test is the
    * real rule engine: line split, per-line predicates, page predicates,
    * reassembly.
    *
    * Scale shape: ONE projection of higher-order functions over the word
    * array — no exchange, no join, no window at any corpus size (plan
    * contract in PlanSpec). Page rejection is emitted as a `page_kept`
    * flag rather than a `.where` so the whole operator stays a single
    * map-side pass and the expensive line arrays are never cloned into a
    * pushed-down filter (the s6 lesson, commit eb31328); a consumer
    * composes `.where(col("page_kept"))` downstream. */
  private val t10C4Clean = withOracle("t10_c4_clean",
    """WITH w AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents),
      |l AS (
      |  SELECT doc_id,
      |         list_transform(range(0, greatest(CAST(ceil(len(ws) / 8.0) AS BIGINT), 1)),
      |           i -> array_to_string(ws[i*8+1 : i*8+8], ' ')
      |                || CASE WHEN (doc_id + 3*i) % 10 = 7 THEN ' javascript' ELSE '' END
      |                || CASE WHEN (doc_id * 7 + i) % 37 = 0 THEN ' {' ELSE '' END
      |                || CASE WHEN (doc_id + i) % 3 <> 0 THEN '.' ELSE '' END) AS lines
      |  FROM w),
      |k AS (
      |  SELECT doc_id, lines,
      |         list_filter(lines, x -> len(string_split(x, ' ')) >= 5
      |                               AND ends_with(x, '.')
      |                               AND NOT contains(x, 'javascript')) AS kept
      |  FROM l)
      |SELECT doc_id,
      |       len(lines) AS n_lines,
      |       len(kept) AS n_kept,
      |       (len(list_filter(lines, x -> contains(x, '{'))) = 0 AND len(kept) >= 3)
      |         AS page_kept,
      |       coalesce(array_to_string(kept, chr(10)), '') AS cleaned
      |FROM k""".stripMargin) { (s, dir) =>
    c4CleanOf(Tables(s, dir, "documents"))
  }

  /** t10's rule engine over any (doc_id, text) frame — frame-parameterized
    * so it runs on any corpus, not only the gate's. */
  def c4CleanOf(docs: DataFrame): DataFrame = {
    val ws = words(col("text"))
    val nl = greatest(floor((size(ws) + lit(7)) / lit(8)), lit(1)).cast("int")
    val mkLine = (i: Column) => concat(
      concat_ws(" ", slice(ws, i * 8 + 1, lit(8))),
      when((col("doc_id") + lit(3) * i) % 10 === 7, " javascript").otherwise(""),
      when((col("doc_id") * 7 + i) % 37 === 0, " {").otherwise(""),
      when((col("doc_id") + i) % 3 =!= 0, ".").otherwise(""))
    val keepLine = (l: Column) =>
      size(split(l, " ")) >= 5 && l.endsWith(".") && !l.contains("javascript")
    docs
      .select(col("doc_id"),
        transform(sequence(lit(0), nl - 1), mkLine).as("lines"))
      .select(col("doc_id"), col("lines"),
        filter(col("lines"), keepLine).as("kept"))
      .select(
        col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"),
        (!exists(col("lines"), _.contains("{")) && size(col("kept")) >= 3)
          .as("page_kept"),
        array_join(col("kept"), "\n").as("cleaned"))
  }

  /** FI1: exact corpus-wide top-20 terms by frequency — the vocabulary
    * heavy-hitter report (and the oracle anchor for the sketch variant).
    * One term-keyed partial-agg exchange (counts collapse map-side, the
    * exchange is vocabulary-sized, not corpus-sized) + TakeOrdered top-k.
    * Deterministic tie-break on the term. */
  private val fi1TopTerms = withOracle("fi1_top_terms",
    """WITH w AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents),
      |c AS (SELECT term, CAST(count(*) AS BIGINT) AS n FROM w GROUP BY 1),
      |r AS (SELECT term, n, row_number() OVER (ORDER BY n DESC, term) AS rn FROM c)
      |SELECT term, n FROM r WHERE rn <= 20""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)
  }

  /** FI1 sketch variant: the same top-20 through a Misra–Gries summary
    * ([[graft.functions.MGOps]]) — the 100 TB shape where even the
    * vocabulary-keyed exchange is too much (or the terms are n-grams and
    * "vocabulary" explodes): per-partition summaries of `capacity`
    * counters merge as constant-size partials, like a3's HLL and q9's
    * DDSketch. Not ANSI-expressible → rows-only; SketchSpec pins the MG
    * guarantees (exact when distinct ≤ capacity — this corpus's regime —
    * and coverage + under-count bound beyond it, any merge order). The
    * sketch self-reports its bound: err_bound = n/(capacity+1). */
  private val fi1TopTermsSketch = rowsOnly("fi1_top_terms_sketch") { (s, dir) =>
    import graft.functions.{freq_sketch, freq_items, freq_n}
    val sk = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("term"))
      .agg(freq_sketch(col("term")).as("sk"))
      .select(slice(freq_items(col("sk")), 1, 20).as("items"),
        (freq_n(col("sk")) / (graft.functions.MGOps.DefaultCapacity + 1))
          .as("err_bound"))
    sk.select(posexplode(col("items")).as(Seq("rank", "item")), col("err_bound"))
      .select(col("item.term").as("term"), col("item.est").as("est"),
        col("rank").cast("long").as("rank"), col("err_bound"))
  }

  /** fi1-sketch's ORACLE-CHECKED companion (the rh4/a3 ladder pattern):
    * the Misra–Gries CONTRACT, verified against the exact counts the
    * gate already trusts, in every regime (not just the exact one) —
    *   - under-count bound: every sketched estimate e satisfies
    *     true − n/(capacity+1) ≤ e ≤ true;
    *   - coverage: every term whose true count exceeds the error bound
    *     IS in the summary (the MG theorem's guarantee);
    *   - items are emitted in non-increasing estimate order.
    * Reduced to values DuckDB derives from `documents` alone. */
  private val fi1SketchInvariants = withOracle("fi1_sketch_invariants",
    """WITH w AS (
      |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
      |  FROM documents)
      |SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_distinct_terms,
      |       TRUE AS estimates_within_mg_bounds,
      |       TRUE AS coverage_complete,
      |       TRUE AS estimates_non_increasing
      |FROM w""".stripMargin) { (s, dir) =>
    import graft.functions.{freq_sketch, freq_items, freq_n}
    val terms = Tables(s, dir, "documents")
      .select(explode(words(col("text"))).as("term"))
    val exact = terms.groupBy("term").agg(count(lit(1)).as("n_exact"))
      .localCheckpoint(false) // feeds the bound join AND the coverage anti-join
    val cap = graft.functions.MGOps.DefaultCapacity
    val items = terms.agg(freq_sketch(col("term")).as("sk"))
      .select(posexplode(freq_items(col("sk"))).as(Seq("rank", "item")),
        (freq_n(col("sk")) / (cap + 1)).as("err"))
      .select(col("item.term").as("term"), col("item.est").as("est"),
        col("rank"), col("err"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("rank"))
    val bounds = items.join(exact, Seq("term"), "left")
      .withColumn("prev_est", lag(col("est"), 1).over(w))
      .agg(
        every(col("n_exact").isNotNull && col("est") <= col("n_exact") &&
          col("est") >= col("n_exact") - col("err"))
          .as("estimates_within_mg_bounds"),
        every(col("prev_est").isNull || col("prev_est") >= col("est"))
          .as("estimates_non_increasing"),
        first(col("err")).as("err"))
    val uncovered = exact.crossJoin(broadcast(bounds.select(col("err"))))
      .where(col("n_exact") > col("err"))
      .join(items.select("term"), Seq("term"), "left_anti")
      .agg(count(lit(1)).as("n_uncovered"))
    exact.agg(count(lit(1)).as("n_distinct_terms"))
      .crossJoin(broadcast(bounds)).crossJoin(broadcast(uncovered))
      .select(col("n_distinct_terms"), col("estimates_within_mg_bounds"),
        (col("n_uncovered") === 0).as("coverage_complete"),
        col("estimates_non_increasing"))
  }

  /** T11: compression-ratio quality signal — each document's raw-DEFLATE
    * compressed size over its UTF-8 size ([[TextAnalysis.compressionRatios]]).
    * Template spam and boilerplate land far below natural prose; encoded
    * noise sits near 1. Complements t6: DEFLATE's 32 KiB window catches
    * long-range within-doc repetition no fixed n-gram fraction sees.
    * Map-only (one Deflater per partition, mm2's expensive-init shape; no
    * exchange in the plan — contract in ExtSpec). DEFLATE output bytes are
    * not ANSI-expressible → rows-only; ExtSpec pins the discriminative
    * ordering (repetitive ≪ prose < high-entropy), bounds, empty-doc
    * totality, and partitioning-invariance. */
  private val t11Compression = rowsOnly("t11_compression_ratio") { (s, dir) =>
    compressionRatios(Tables(s, dir, "documents"))
  }

  /** t11's ORACLE-CHECKED companion: DEFLATE bytes aren't ANSI-
    * expressible, but the signal's defining properties are checkable —
    *   - totality + positivity: every document gets a ratio > 0;
    *   - the format's overhead bound: an incompressible doc ≥ 200 B
    *     cannot exceed ratio 1.1 (stored-block overhead is 5 B/16 KiB
    *     + a few header bytes);
    *   - the raison d'être: DOUBLING a document (≤ 32 KiB, inside
    *     DEFLATE's match window) collapses the second copy to one
    *     long match, so the doubled ratio must drop well below the
    *     original — the long-range-repetition detection t6's fixed
    *     n-grams can't see.
    * Reduced to values DuckDB derives from `documents` alone. */
  private val t11Invariants = withOracle("t11_ratio_invariants",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       TRUE AS ratios_positive,
      |       TRUE AS overhead_bounded,
      |       TRUE AS doubling_detected
      |FROM documents""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val r1 = compressionRatios(docs)
      .select(col("doc_id"), col("measured_bytes"), col("ratio"))
    val r2 = compressionRatios(
        docs.select(col("doc_id"), concat(col("text"), col("text")).as("text")))
      .select(col("doc_id"), col("ratio").as("ratio2"))
    val inWindow = col("measured_bytes") >= 200 && col("measured_bytes") <= 32000
    r1.join(r2, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        every(col("ratio") > 0).as("ratios_positive"),
        every(!inWindow || col("ratio") <= 1.1).as("overhead_bounded"),
        every(!inWindow || col("ratio2") <= col("ratio") * 0.75)
          .as("doubling_detected"))
  }

  /** QC1: model-based quality classification ([[graft.ext.Classifier]]) —
    * the GPT-3-family "train a cheap classifier to recognize the target
    * distribution, score everything" stage (here: target = the corpus's
    * `lang = 'en'` slice standing in for the curated reference corpus;
    * the label column is pluggable — an LLM-judge or heuristic-gate label
    * trains identically). Full-batch logistic regression over sm5's
    * hashed-bigram buckets, trained by bounded-exchange gradient descent
    * inside the engine; scoring is a frozen-weights map-side probe.
    * Iterative float training isn't ANSI-expressible → rows-only; ExtSpec
    * pins exact-algorithm parity vs a plain-Scala reference, monotone
    * loss decrease, held-out accuracy over the class prior, and
    * determinism. */
  private val qc1LrQuality = rowsOnly("qc1_lr_quality") { (s, dir) =>
    import graft.ext.Classifier
    val docs = Tables(s, dir, "documents")
    val labels = docs.select(col("doc_id"),
      (col("lang") === "en").cast("double").as("y"))
    val (w, _) = Classifier.train(Classifier.features(docs), labels)
    Classifier.score(docs, w)
  }

  /** qc1's ORACLE-CHECKED companion: the TRAINING is iterative floating-
    * point descent (not ANSI-expressible), but scoring downstream of the
    * frozen weights is pure algebra, and the batch scorer has a second,
    * independent formulation — [[graft.ext.Classifier.scoreColumn]]'s
    * map-side HOF fold vs [[graft.ext.Classifier.score]]'s explode +
    * partial-avg aggregate. The two must agree doc-for-doc at the rounded
    * precision; scores must live in (0, 1); the prediction must be
    * exactly the 0.5 threshold. Reduced to DuckDB-derivable values. */
  private val qc1Invariants = withOracle("qc1_score_invariants",
    """SELECT CAST(count(*) AS BIGINT) AS n_docs,
      |       TRUE AS scores_in_unit_interval,
      |       TRUE AS predicted_is_threshold,
      |       TRUE AS agg_form_equals_fold_form
      |FROM documents""".stripMargin) { (s, dir) =>
    import graft.ext.Classifier
    val docs = Tables(s, dir, "documents")
    val labels = docs.select(col("doc_id"),
      (col("lang") === "en").cast("double").as("y"))
    val (w, _) = Classifier.train(Classifier.features(docs), labels)
    val got = Classifier.score(docs, w)
    val alt = docs.select(col("doc_id"),
      Classifier.scoreColumn(col("text"), w).as("score_fold"))
    got.join(alt, "doc_id")
      .agg(count(lit(1)).as("n_docs"),
        every(col("score") > 0 && col("score") < 1).as("scores_in_unit_interval"),
        every(col("predicted") === (col("score") >= 0.5))
          .as("predicted_is_threshold"),
        every(col("score") === col("score_fold")).as("agg_form_equals_fold_form"))
  }

  /** T12 Unicode repair — the pre-tokenization cleanup (ftfy's core job,
    * scoped to what two engines can pin byte-exactly): NFC composition so
    * decomposed accents dedup/fingerprint identically to their composed
    * forms, CR/CRLF → LF, C0/C1 control strip (TAB/LF survive). Runs as a
    * codegen `Expression` (graft.ext.UnicodeClean) — one pass per row
    * inside whole-stage codegen, no regex per row. The fixture text is
    * ASCII-clean, so deterministic per-doc messiness (combining accents,
    * bell/VT/DEL controls, bare CR) is injected identically on both
    * engines; the oracle mirrors the normalization chain with DuckDB's
    * own nfc_normalize + replace + RE2 class strip. */
  private val t12Unicode = withOracle("t12_unicode_clean",
    """SELECT doc_id,
      |       regexp_replace(
      |         replace(replace(nfc_normalize(
      |             'Cafe' || chr(769) || chr(7) || ' ' || text ||
      |             (CASE CAST(doc_id % 3 AS INT)
      |                WHEN 0 THEN chr(13) || chr(10) || 'end'
      |                WHEN 1 THEN chr(11) || 'end' || chr(127)
      |                ELSE chr(13) || 'e' || chr(776) || 'nd' END)),
      |           chr(13) || chr(10), chr(10)), chr(13), chr(10)),
      |         '[\x00-\x08\x0B-\x1F\x7F-\x9F]', '', 'g') AS cleaned
      |FROM documents""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents").select(col("doc_id"),
      unicode_clean(concat(
        lit("Café "), col("text"),
        when(col("doc_id") % 3 === 0, lit("\r\nend"))
          .when(col("doc_id") % 3 === 1, lit("end"))
          .otherwise(lit("\rënd")))).as("cleaned"))
  }

  /** HTML1 boilerplate-stripped text extraction — the raw-crawl front
    * door (graft.ext.HtmlText): deterministic synthetic pages carrying
    * every boilerplate class (head/style/script/comments, an all-links
    * nav and share bar, a too-short footer) around `1 + doc_id % 4`
    * content paragraphs. The REAL extractor (block segmentation + entity
    * decode + length/link-density rules) runs over the actual HTML, while
    * the oracle recomputes the expected kept blocks from the generation
    * parameters in SQL — the mm2 round-trip discipline applied to markup.
    * Map-only, shuffle-free: the 100 TB shape of `warc response → text`. */
  private val html1Extract = QueryDef.withOracle("html1_extract",
    """WITH paras AS (
      |  SELECT d.doc_id, i.i AS i,
      |         'Section ' || i.i || ' of document ' || d.doc_id || ': ' ||
      |         CASE WHEN i.i = 0 THEN 'reference link ' ELSE '' END ||
      |         repeat('lorem ipsum dolor sit amet ',
      |                CAST(1 + (d.doc_id + i.i) % 3 AS INT)) ||
      |         'consectetur & adipiscing.' AS txt
      |  FROM documents d
      |  JOIN (SELECT unnest(range(4)) AS i) i ON i.i < 1 + d.doc_id % 4)
      |SELECT doc_id,
      |       CAST(count(*) AS INT) AS n_blocks,
      |       string_agg(txt, chr(10) ORDER BY i) AS text
      |FROM paras GROUP BY doc_id""".stripMargin) { (s, dir) =>
    graft.ext.HtmlText.extractDocs(graft.ext.HtmlText.asGeneratedPages(s, dir))
      .toDF().select(col("doc_id"), col("n_blocks"), col("text"))
  }

  val all: Seq[QueryDef] =
    Seq(t1Tokens, t2Quality, t3LangId, t4DocFp, t5Gopher, t6Repetition, t7RareTerms,
      t8QualityGate, t9LmScore, t10C4Clean, t11Compression, t11Invariants, t12Unicode,
      fi1TopTerms, fi1TopTermsSketch, fi1SketchInvariants, bpe1Merges, bpe1Invariants,
      tok1BpeTokens, tok1Invariants, p1PiiScrub, p2PiiLuhn, qc1LrQuality,
      qc1Invariants, html1Extract)
}
