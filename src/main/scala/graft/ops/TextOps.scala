package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.functions.Kit
import graft.sources.Tables

/** Text-analysis / dedup operators over the `documents` table — the
  * training-data-pipeline surface (SURVEY §2.10). All token/shingle work
  * uses higher-order array functions (no UDFs), so it scales as ordinary
  * codegen'd expressions; the near-dup join is shingle-bucketed (candidate
  * pairs only), never a naive doc×doc cross join.
  */
object TextOps {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** Exact dedup by content hash: one surviving doc_id per distinct text
    * (md5 — identical hex in Spark and DuckDB). The groupBy shuffles the
    * 16-byte hash, not the document body. */
  val dedupExactDocs: QueryDef = QueryDef.sql(
    "dedup_exact_docs",
    """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text)""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents")
      .groupBy(md5($"text").as("text_md5"))
      .agg(min($"doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
  }

  /** Per-document quality stats: char length, whitespace token count,
    * BPE-ish token count (word-or-punct regex), alpha char count, space
    * count — the length/punct/stopword quality-scoring kit. */
  val textStats: QueryDef = QueryDef.sql(
    "text_stats",
    """SELECT doc_id, lang,
      |  length(text) AS n_chars_calc,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
      |  CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_tokens_bpeish,
      |  length(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha,
      |  length(text) - length(replace(text, ' ', '')) AS n_spaces
      |FROM documents""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents").select(
      $"doc_id", $"lang",
      length($"text").cast(LongType).as("n_chars_calc"),
      size(split($"text", " ", -1)).cast(LongType).as("n_tokens_ws"),
      size(regexp_extract_all($"text", lit("\\w+|[^\\w\\s]"), lit(0)))
        .cast(LongType).as("n_tokens_bpeish"),
      length(regexp_replace($"text", "[^a-z]", "")).cast(LongType).as("n_alpha"),
      (length($"text") - length(regexp_replace($"text", " ", "")))
        .cast(LongType).as("n_spaces"))
  }

  /** TF-IDF top terms per document — the classic relevance/keyword
    * extraction operator. Plan shape at 100 TB: term frequencies are ONE
    * map-side-combined groupBy over the exploded tokens (the only pass
    * that touches the token corpus); document frequencies reduce that to
    * vocabulary size and come back as a BROADCAST join (a vocabulary is
    * always ≪ corpus); N is a broadcast scalar; per-doc top-3 is a
    * window partitioned by doc_id — no global sort anywhere. Scores are
    * quantized (floor·1e6) before the rank so the oracle compare and the
    * tie-break (then by term) are exact across engines. */
  val tfidfTopTerms: QueryDef = QueryDef.sql(
    "tfidf_top_terms",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
      |    CAST(FLOOR(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) * 1000000) AS BIGINT) AS tfidf_q6
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |ranked AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY doc_id ORDER BY tfidf_q6 DESC, term ASC) AS rnk
      |  FROM scored)
      |SELECT doc_id, term, tf, df, tfidf_q6, rnk
      |FROM ranked WHERE rnk <= 3""") { (s, dir) =>
    import s.implicits._
    val docs = t(s, dir, "documents")
    val tf = docs
      .select($"doc_id", explode(split(lower($"text"), " ")).as("term"))
      .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .persist() // read twice: df aggregation + the scored join
    val dfreq = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"tfidf_q6".desc, $"term".asc)
    tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(n))
      .select($"doc_id", $"term", $"tf", $"df",
        floor($"tf" * log($"n".cast(DoubleType) / $"df") * 1e6)
          .cast(LongType).as("tfidf_q6"))
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 3)
      .select($"doc_id", $"term", $"tf", $"df", $"tfidf_q6",
        $"rnk".cast(LongType).as("rnk"))
  }

  /** Unigram negative-log-likelihood scoring — the statistical language-
    * model quality filter (out-of-distribution docs score high NLL, word
    * salad scores low): corpus unigram probabilities, then per-doc mean
    * −ln p(w). Each term's NLL is QUANTIZED TO AN INTEGER before the
    * per-doc sum, so the aggregate is associative integer addition —
    * order-independent across any partitioning, hash-exact against the
    * oracle (a raw double sum would be partition-order-dependent). Plan:
    * the exploded token corpus is the persisted stage table read by the
    * count and the join; the per-term NLL table is vocabulary-sized and
    * broadcasts. */
  val unigramNllScore: QueryDef = QueryDef.sql(
    "unigram_nll_score",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      |  FROM documents),
      |cnt AS (SELECT term, COUNT(*) AS c FROM tok GROUP BY term),
      |tot AS (SELECT COUNT(*) AS n FROM tok),
      |term_nll AS (
      |  SELECT term,
      |    CAST(FLOOR(-ln(CAST(c AS DOUBLE) / n) * 1000000) AS BIGINT) AS nll_q6
      |  FROM cnt CROSS JOIN tot),
      |doc AS (
      |  SELECT t.doc_id, COUNT(*) AS n_tokens,
      |    CAST(SUM(tn.nll_q6) AS BIGINT) AS total_nll_q6
      |  FROM tok t JOIN term_nll tn USING (term)
      |  GROUP BY t.doc_id)
      |SELECT doc_id, n_tokens, total_nll_q6,
      |  total_nll_q6 // n_tokens AS avg_nll_q6
      |FROM doc""") { (s, dir) =>
    import s.implicits._
    val tok = t(s, dir, "documents")
      .select($"doc_id", explode(split(lower($"text"), " ")).as("term"))
      .persist() // stage table: read by the count pass and the score join
    val cnt = tok.groupBy($"term").agg(count(lit(1)).as("c"))
    val tot = tok.agg(count(lit(1)).as("n"))
    val termNll = cnt.crossJoin(broadcast(tot))
      .select($"term",
        floor(-log($"c".cast(DoubleType) / $"n") * 1e6)
          .cast(LongType).as("nll_q6"))
    tok.join(broadcast(termNll), "term")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum($"nll_q6").as("total_nll_q6"))
      .select($"doc_id", $"n_tokens", $"total_nll_q6",
        expr("total_nll_q6 div n_tokens").as("avg_nll_q6"))
  }

  /** Order-2 statistical LM quality score — the KenLM-style perplexity
    * filter real curation pipelines run after the unigram pass: per-doc
    * mean conditional bigram NLL, −ln p(w₂|w₁) with p estimated from the
    * corpus itself (c(w₁,w₂)/c(w₁,·)). High-NLL docs are the incoherent
    * ones whose word PAIRS are improbable even when each word is common —
    * exactly what [[unigramNllScore]] cannot see.
    *
    * Same exactness discipline as the unigram form: each bigram's NLL is
    * integer-quantized BEFORE the per-doc sum, so the aggregate is
    * associative and bit-identical under any partitioning. Scale shape:
    * the bigram-count table grows ~quadratically in vocabulary, so it is
    * NOT hint-broadcast — the score join shuffles on (w1, w2) and AQE
    * demotes to broadcast only when the table measures small. */
  val bigramNllScore: QueryDef = QueryDef.sql(
    "bigram_nll_score",
    """WITH toks AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |idx AS (
      |  SELECT doc_id, ts, unnest(range(1, len(ts))) AS i FROM toks),
      |bg AS (SELECT doc_id, ts[i] AS w1, ts[i+1] AS w2 FROM idx),
      |cnt AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
      |left_cnt AS (SELECT w1, SUM(c) AS c1 FROM cnt GROUP BY w1),
      |bg_nll AS (
      |  SELECT w1, w2,
      |    CAST(FLOOR(-ln(CAST(c AS DOUBLE) / c1) * 1000000) AS BIGINT)
      |      AS nll_q6
      |  FROM cnt JOIN left_cnt USING (w1)),
      |doc AS (
      |  SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |    CAST(SUM(n.nll_q6) AS BIGINT) AS total_nll_q6
      |  FROM bg b JOIN bg_nll n USING (w1, w2)
      |  GROUP BY b.doc_id)
      |SELECT doc_id, n_bigrams, total_nll_q6,
      |  total_nll_q6 // n_bigrams AS avg_nll_q6
      |FROM doc""") { (s, dir) =>
    import s.implicits._
    val bg = Tables.loadSpread(s, dir, "documents")
      .select($"doc_id", split(lower($"text"), " ").as("ts"))
      .where(size($"ts") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(ts) - 2),
          |  i -> struct(ts[i] AS w1, ts[i+1] AS w2))""".stripMargin)).as("b"))
      .select($"doc_id", $"b.w1", $"b.w2")
      .persist() // stage table: read by the count pass and the score join
    val cnt = bg.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
    val leftCnt = cnt.groupBy($"w1").agg(sum($"c").as("c1"))
    val bgNll = cnt.join(leftCnt, "w1")
      .select($"w1", $"w2",
        floor(-log($"c".cast(DoubleType) / $"c1") * 1e6)
          .cast(LongType).as("nll_q6"))
    bg.join(bgNll, Seq("w1", "w2"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"nll_q6").as("total_nll_q6"))
      .select($"doc_id", $"n_bigrams", $"total_nll_q6",
        expr("total_nll_q6 div n_bigrams").as("avg_nll_q6"))
  }

  /** Global heavy hitters: the top-50 corpus terms by occurrence count
    * (ties to the lexically first term). Different top-k plan shape from
    * the per-group window: a global ORDER BY + LIMIT plans as
    * TakeOrderedAndProject — each partition keeps a 50-element heap and
    * only those heaps move, so the vocabulary-sized aggregate is never
    * globally sorted. */
  val heavyHittersTerms: QueryDef = QueryDef.sql(
    "heavy_hitters_terms",
    """SELECT term, COUNT(*) AS n_occ
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS term
      |      FROM documents)
      |GROUP BY term
      |ORDER BY n_occ DESC, term ASC LIMIT 50""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents")
      .select(explode(split(lower($"text"), " ")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("n_occ"))
      .orderBy($"n_occ".desc, $"term".asc).limit(50)
  }

  /** Language histogram with exact integer stats (A-style rollup on the
    * declared lang column). */
  val langHistogram: QueryDef = QueryDef.sql(
    "lang_histogram",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
      |  MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
      |FROM documents GROUP BY lang""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents").groupBy($"lang").agg(
      count(lit(1)).as("n_docs"),
      sum($"n_chars").as("total_chars"),
      (sum($"n_chars").cast(DoubleType) / count(lit(1))).as("avg_chars"),
      min($"n_chars").as("min_chars"),
      max($"n_chars").as("max_chars"))
  }

  /** Stopword-ratio language ID heuristic: count occurrences of English
    * function words per doc (substring-count via length arithmetic — no
    * regex in the hot path), classify by a fixed threshold on the ratio.
    * Deterministic and ANSI-expressible → oracle-checkable. */
  val langIdHeuristic: QueryDef = QueryDef.sql(
    "lang_id_heuristic",
    """SELECT doc_id,
      |  CAST((length(text) - length(replace(text, ' the ', ''))) / 5
      |     + (length(text) - length(replace(text, ' a ', ''))) / 3 AS BIGINT) AS en_hits,
      |  CASE WHEN (length(text) - length(replace(text, ' the ', ''))) / 5
      |          + (length(text) - length(replace(text, ' a ', ''))) / 3 >= 2
      |       THEN 'en' ELSE 'unknown' END AS lang_guess
      |FROM documents""") { (s, dir) =>
    import s.implicits._
    def hits(word: String): org.apache.spark.sql.Column =
      (length($"text") - length(regexp_replace($"text",
        java.util.regex.Pattern.quote(word), ""))) / lit(word.length)
    val enHits = (hits(" the ") + hits(" a ")).cast(LongType)
    t(s, dir, "documents").select(
      $"doc_id",
      enHits.as("en_hits"),
      when(enHits >= 2, "en").otherwise("unknown").as("lang_guess"))
  }

  /** The quality-score expression shared by `quality_filter` and
    * `corpus_curation` — Spark and (string) DuckDB forms defined ONCE so
    * the two queries can never drift. Three independent heuristics vote:
    * document length in a sane band, alphabetic character ratio, mean
    * word length in the natural-language band. Integer arithmetic
    * throughout so the score is engine-exact. */
  private[ops] val SCORE_SQL: String =
    """CASE WHEN length(text) BETWEEN 100 AND 20000 THEN 1 ELSE 0 END
      |  + CASE WHEN length(regexp_replace(lower(text), '[^a-z]', '', 'g')) * 100
      |         >= length(text) * 60 THEN 1 ELSE 0 END
      |  + CASE WHEN length(text) <= 12 * len(string_split(text, ' '))
      |         AND length(text) >= 3 * len(string_split(text, ' '))
      |         THEN 1 ELSE 0 END""".stripMargin

  private[ops] def qualityScore(text: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val lenOk = when(length(text).between(100, 20000), 1).otherwise(0)
    val alphaOk = when(
      length(regexp_replace(lower(text), "[^a-z]", "")) * 100 >=
        length(text) * 60, 1).otherwise(0)
    val nTok = size(split(text, " ", -1))
    val wordLenOk = when(
      length(text) <= nTok * 12 && length(text) >= nTok * 3, 1)
      .otherwise(0)
    (lenOk + alphaOk + wordLenOk).cast(IntegerType)
  }

  /** Composite quality score + keep/drop decision — the filter stage of a
    * training-data pipeline. The decision is a plain CASE, so downstream
    * `WHERE keep` pushes into the scan at scale. */
  val qualityFilter: QueryDef = QueryDef.sql(
    "quality_filter",
    s"""SELECT doc_id,
      |  $SCORE_SQL AS quality_score,
      |  $SCORE_SQL >= 2 AS keep
      |FROM documents""") { (s, dir) =>
    import s.implicits._
    val score = qualityScore($"text")
    t(s, dir, "documents").select(
      $"doc_id", score.as("quality_score"), (score >= 2).as("keep"))
  }

  /** END-TO-END CORPUS CURATION — the composed form a training-data user
    * actually runs: quality-gate the raw corpus, exact-dedup survivors on
    * the normalized fingerprint keeping the LOWEST doc_id per content
    * (deterministic winner), annotate with token counts. One scan, one
    * 16-byte-hash shuffle for the dedup, one semi join back on doc_id —
    * document bodies are never shuffled. The pattern scales unchanged:
    * at 100 TB the fp groupBy is the only wide stage and it moves
    * hashes, not text. */
  val corpusCuration: QueryDef = QueryDef.sql(
    "corpus_curation",
    s"""WITH scored AS (
      |  SELECT doc_id, lang, text,
      |    md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fp,
      |    $SCORE_SQL AS q
      |  FROM documents),
      |kept AS (SELECT * FROM scored WHERE q >= 2),
      |winners AS (SELECT fp, MIN(doc_id) AS doc_id FROM kept GROUP BY fp)
      |SELECT k.doc_id, k.lang,
      |  CAST(len(string_split(k.text, ' ')) AS BIGINT) AS n_tokens,
      |  k.q AS quality_score
      |FROM kept k JOIN winners w ON k.doc_id = w.doc_id""") { (s, dir) =>
    import s.implicits._
    val kept = t(s, dir, "documents")
      .select($"doc_id", $"lang", $"text",
        md5(regexp_replace(lower($"text"), "[^a-z0-9 ]", "")).as("fp"),
        qualityScore($"text").as("q"))
      .where($"q" >= 2)
    val winners = kept.groupBy($"fp").agg(min($"doc_id").as("doc_id"))
    kept
      .join(winners.select($"doc_id"), Seq("doc_id"), "left_semi")
      .select($"doc_id", $"lang",
        size(split($"text", " ", -1)).cast(LongType).as("n_tokens"),
        $"q".as("quality_score"))
  }

  /** Document fingerprint: md5 over the normalized text (lower + strip
    * non-alphanumerics) — stable under whitespace/punct jitter, the cheap
    * first stage of a dedup cascade. */
  val docFingerprint: QueryDef = QueryDef.sql(
    "doc_fingerprint",
    """SELECT doc_id,
      |  md5(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS fingerprint
      |FROM documents""") { (s, dir) =>
    import s.implicits._
    t(s, dir, "documents").select(
      $"doc_id",
      md5(regexp_replace(lower($"text"), "[^a-z0-9 ]", "")).as("fingerprint"))
  }

  /** Max docs a shingle may appear in and still generate candidate pairs.
    * A shingle shared by d docs yields d²/2 pairs — a stopword 3-gram in
    * 10⁶ docs would yield 10¹² pairs. Capping df bounds the self-join at
    * DF_CAP²/2 pairs per shingle; true near-dups (Jaccard ≥ 0.30) share
    * many shingles and virtually always at least one rare one, so recall
    * loss is negligible. Exact Jaccard is still computed over ALL shared
    * shingles of each surviving candidate pair. */
  private val DF_CAP = 50

  /** Exact n-gram Jaccard near-dup detection, shingle-bucketed with a
    * document-frequency cap (see [[DF_CAP]]): explode distinct word-3-
    * grams, keep shingles with df ≤ cap, and emit each rare shingle's
    * doc-pair combinations map-side (candidate pairs share ≥1 rare
    * shingle — never doc×doc, never hot-shingle quadratic, no shingle
    * self-join), then compute Jaccard = |∩| / (|A|+|B|−|∩|) over the FULL
    * shingle sets and keep pairs ≥ 0.30. Quantized (floor×1e6) so the
    * double division is engine-portable. At 100 TB: the shingled corpus
    * is shuffled exactly once (window df-count and doc-list collection
    * share one hash partitioning), candidate volume is bounded by
    * DF_CAP²/2 per shingle, and pair dedup is a two-column distinct. */
  val ngramJaccardNeardup: QueryDef = QueryDef.sql(
    "ngram_jaccard_neardup",
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |  FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
      |rare AS (
      |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $DF_CAP),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN rare r ON a.s = r.s
      |  JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS n_both
      |  FROM cand
      |  JOIN sh fa ON fa.doc_id = doc_a
      |  JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b,
      |  CAST(FLOOR(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) * 1000000) AS BIGINT) AS jaccard_q6
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.30""".stripMargin) { (s, dir) =>
    jaccardNeardupPairs(t(s, dir, "documents"))
  }

  /** Containment near-dup (registered form of
    * [[containmentNeardupPairs]]): subset duplication that Jaccard
    * thresholds miss by construction. */
  val containmentNeardup: QueryDef = QueryDef.sql(
    "containment_neardup",
    s"""WITH tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |  FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
      |rare AS (
      |  SELECT s FROM sh GROUP BY s HAVING COUNT(*) <= $DF_CAP),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM sh a JOIN rare r ON a.s = r.s
      |  JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS n_both
      |  FROM cand
      |  JOIN sh fa ON fa.doc_id = doc_a
      |  JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
      |  GROUP BY doc_a, doc_b)
      |SELECT doc_a, doc_b,
      |  CAST(FLOOR(CAST(n_both AS DOUBLE) / least(sa.n, sb.n) * 1000000) AS BIGINT) AS containment_q6
      |FROM inter
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(n_both AS DOUBLE) / least(sa.n, sb.n) >= 0.80""".stripMargin) { (s, dir) =>
    containmentNeardupPairs(t(s, dir, "documents"))
  }

  /** The exact-Jaccard near-dup detector over ANY (doc_id, text) frame —
    * unit-testable on literal documents; the registered query applies it
    * to the fixture table.
    *
    * SCALE DESIGNATION — VERIFICATION-GRADE, not the production path.
    * The exact family (this and [[containmentNeardupPairs]]) is the
    * ground-truth baseline: its candidate stage is bounded but
    * AMPLIFYING — each rare shingle contributes up to DF_CAP²/2 pairs,
    * i.e. candidate rows ≤ DF_CAP × corpus-shingles (measured ~25×
    * amplification worst case, 1.13 M candidates from 5 k docs at
    * sf0.1). At 100 TB run it on samples, audits, and
    * detector-calibration slices. The PRODUCTION dedup path at corpus
    * scale is [[minhashNeardupPairs]] (MinHash-LSH: candidates scale
    * with true-duplicate density — 256 pairs on the same fixture) with
    * [[simhashNeardupPairs]] as the bit-sketch alternative; both are
    * registered queries whose thresholds this exact family calibrates.
    *
    * NOTE (all three detectors): the shingle/signature stage tables stay
    * persisted until the session's cache is cleared — the Verify/Bench
    * harness does so between queries; other long-lived callers should
    * `spark.catalog.clearCache()` (or accept the cached stage as
    * reusable state) after materializing results. */
  def jaccardNeardupPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (cand, hsets) = rareShingleCandidates(docs)
    // |A∩B| ≤ shared_rare + min(hot_a, hot_b); Jaccard is monotone in
    // |A∩B|, so pairs whose bound misses 0.30 cannot pass exact verify
    val ub = $"shared_rare" + least($"nhot_a", $"nhot_b")
    val plausible = cand
      .where(ub.cast(DoubleType) / ($"na" + $"nb" - ub) >= 0.30)
      .select($"doc_a", $"doc_b")
    val jac = $"n_both".cast(DoubleType) / ($"na" + $"nb" - $"n_both")
    intersectionSizes(plausible, hsets)
      .where(jac >= 0.30)
      .select($"doc_a", $"doc_b", Kit.quantize(jac, 6).as("jaccard_q6"))
  }

  /** CONTAINMENT near-dup detection — |A∩B| / min(|A|,|B|) ≥ 0.80: the
    * subset-duplication case (a document quoted or re-published inside a
    * larger one). Jaccard-family detectors underweight exactly these
    * pairs (a small doc inside a big one has low |∩|/|∪|), so this is
    * its own family, not a threshold tweak: same bounded rare-shingle
    * candidate stage, but the prune bound and the verified score divide
    * by the SMALLER set. Same scale designation as
    * [[jaccardNeardupPairs]]: verification-grade at 100 TB — the
    * production path is the MinHash/SimHash sketch family. */
  def containmentNeardupPairs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val (cand, hsets) = rareShingleCandidates(docs)
    val ub = $"shared_rare" + least($"nhot_a", $"nhot_b")
    val plausible = cand
      .where(ub.cast(DoubleType) / least($"na", $"nb") >= 0.80)
      .select($"doc_a", $"doc_b")
    val contain = $"n_both".cast(DoubleType) / least($"na", $"nb")
    intersectionSizes(plausible, hsets)
      .where(contain >= 0.80)
      .select($"doc_a", $"doc_b", Kit.quantize(contain, 6).as("containment_q6"))
  }

  /** The shared candidate stage of the exact near-dup family: bounded
    * rare-shingle pair generation plus the per-doc size/hot-count stats
    * every upper-bound prune needs. Returns (candidates with columns
    * doc_a, doc_b, shared_rare, na, nhot_a, nb, nhot_b; persisted
    * shingle-set stage table). */
  private def rareShingleCandidates(docs: DataFrame): (DataFrame, DataFrame) = {
    val s = docs.sparkSession
    import s.implicits._
    // 8-byte shingle hashes, not strings, from the FIRST expression on:
    // the stage table holds hashed shingle sets (array<bigint>), so no
    // shingle string is ever materialized, persisted, or re-hashed — the
    // old string stage table cost ~3× the bytes and re-ran xxhash64 over
    // every set on both verify sides (guide §2.3, narrower types). (A
    // 64-bit collision could in principle merge two shingles' df counts
    // or link a spurious candidate; at ~2⁻⁶⁴ per pair the exact verify
    // stage makes this unobservable — same accepted bound as before.)
    val sets = shingleHashSets(docs).persist() // stage: read by cand/verify
    val sh = sets.select($"doc_id", explode($"hset").as("h"))
    // df-count as a map-side-combined aggregate + semi join back, NOT a
    // count() window: the window formulation hash-partitioned AND SORTED
    // the whole shingled corpus (WindowExec requires a sort on the
    // partition key); the aggregate ships one (h, count) row per shingle
    // per task, the join probes it, and only RARE rows reach the
    // collect_list exchange — strictly fewer bytes sorted/shuffled than
    // the window plan (guide §2.3 "aggregate before you shuffle", §2.4).
    val rare = sh.groupBy($"h").agg(count(lit(1)).as("df"))
      .where($"df" <= DF_CAP)
      .select($"h")
    // stage table (persisted): each rare shingle's ≤DF_CAP doc list; read
    // twice below (pair-gen + per-doc rare counts)
    val docLists = sh
      .join(rare, Seq("h"))
      .groupBy($"h").agg(collect_list($"doc_id").as("ds"))
      .persist()
    // pair generation is map-side: each rare shingle's doc list yields its
    // ordered pairs locally (≤ DF_CAP²/2 per shingle, bounded); the
    // multiplicity — how many rare shingles a pair shares — is aggregated
    // on narrow two-column rows AND is the verify prune's input.
    val pairs = docLists
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds)), y ->
          |    struct(least(x, y) AS doc_a, greatest(x, y) AS doc_b))))""".stripMargin))
        .as("p"))
      .select($"p.doc_a", $"p.doc_b")
      .groupBy($"doc_a", $"doc_b").agg(count(lit(1)).as("shared_rare"))
      // scale telemetry: candidate-pair volume, readable from any action's
      // observedMetrics (zero overhead — CollectMetrics aggregates on the
      // rows already flowing past). The stress harness tracks this count
      // across corpus sizes to verify sub-quadratic growth.
      .observe("neardup_candidates", count(lit(1)).as("n_pairs"))
    // Candidate-pair volume is quadratic-ish in df (measured: 1.13M pairs
    // from 5k fixture docs) but almost all pairs share only a few rare
    // shingles — nowhere near Jaccard 0.30. Prune with an exact upper
    // bound before touching any shingle array: |A∩B| ≤ shared_rare +
    // min(hot_a, hot_b), and J is monotone in |A∩B|, so a pair whose
    // bound falls below the threshold cannot pass the exact verify. This
    // collapses the verify join input from every candidate to the
    // plausible few — the difference between an O(candidates) and an
    // O(near-dups) verify stage at 100 TB.
    val nRare = docLists
      .select(explode($"ds").as("doc_id"))
      .groupBy($"doc_id").agg(count(lit(1)).as("n_rare"))
    val stats = sets
      .select($"doc_id", size($"hset").cast(LongType).as("n"))
      .join(nRare, Seq("doc_id"), "left")
      .select($"doc_id", $"n",
        ($"n" - coalesce($"n_rare", lit(0L))).as("n_hot"))
    (pairs
      .join(stats.toDF("doc_a", "na", "nhot_a"), Seq("doc_a"))
      .join(stats.toDF("doc_b", "nb", "nhot_b"), Seq("doc_b")),
      sets)
  }

  /** Per-document DISTINCT word-3-gram shingle set as an array column:
    * (doc_id, sset). `array_distinct` dedups within the row — no
    * exploded-row `.distinct()` shuffle anywhere in the near-dup plans
    * (at 100 TB that shuffle would move the whole shingled corpus; this
    * moves nothing). Documents with fewer than 3 tokens yield an EMPTY
    * set — without the guard, `concat_ws` would silently skip the null
    * tail elements and emit a padded 1–2-word "shingle" that the oracle's
    * `range()` never generates. */
  def shingleSets(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      // spread before the split/transform chain: the corpus usually
      // arrives as ONE parquet split at fixture scale, which would run
      // the whole shingling pass single-threaded (see Tables.loadSpread;
      // explicit count so AQE can't coalesce the tiny shuffle back)
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", split(lower($"text"), " ").as("ts"))
      .select($"doc_id", array_distinct(expr(
        """CASE WHEN size(ts) >= 3
          |  THEN transform(sequence(0, size(ts) - 3),
          |         i -> concat_ws(' ', ts[i], ts[i+1], ts[i+2]))
          |  ELSE CAST(array() AS array<string>) END""".stripMargin))
        .as("sset"))
  }

  /** Per-document DISTINCT word-3-gram shingle set HASHED to 8-byte
    * xxhash64 values: (doc_id, hset array<bigint>) — the exact-family
    * stage table ([[rareShingleCandidates]]). Hashing happens INSIDE the
    * shingling transform (`xxhash64(ts[i], ts[i+1], ts[i+2])` — the
    * token triple is hashed directly, no concatenated shingle string is
    * ever built), so `array_distinct` compares longs, the persisted
    * stage table holds 8 bytes per shingle, and the verify stage
    * intersects these arrays as-is. Token triples map 1:1 to the string
    * shingles (tokens come from a split on ' ', so they contain no
    * spaces and the joined rendering is injective); hash collisions are
    * the same ~2⁻⁶⁴-per-pair bound the family has always accepted. */
  def shingleHashSets(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id", split(lower($"text"), " ").as("ts"))
      .select($"doc_id", array_distinct(expr(
        """CASE WHEN size(ts) >= 3
          |  THEN transform(sequence(0, size(ts) - 3),
          |         i -> xxhash64(ts[i], ts[i+1], ts[i+2]))
          |  ELSE CAST(array() AS array<bigint>) END""".stripMargin))
        .as("hset"))
  }

  /** Exact-Jaccard verify stage shared by both near-dup candidate
    * generators: join the (small) candidate pair set back to the per-doc
    * shingle arrays and compute |∩| with `array_intersect` — a map-side
    * expression per pair, no intersection shuffle; set sizes come free
    * from the array length. The intersection runs over 8-byte xxhash64
    * arrays, not the shingle strings — same counts barring a ~2⁻⁶⁴
    * collision, at a fraction of the per-pair compare cost. Keep
    * Jaccard ≥ 0.30, quantized. */
  private[graft] def jaccardVerify(cand: DataFrame, sets: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    val jac = $"n_both".cast(DoubleType) / ($"na" + $"nb" - $"n_both")
    intersectionSizes(cand, sets.select($"doc_id",
        expr("transform(sset, s -> xxhash64(s))").as("hset")))
      .where(jac >= 0.30)
      .select($"doc_a", $"doc_b", Kit.quantize(jac, 6).as("jaccard_q6"))
  }

  /** (doc_a, doc_b, n_both, na, nb) for each candidate pair — the exact
    * set-overlap numbers every verify metric (Jaccard, containment) is a
    * formula over — from HASHED sets ((doc_id, hset), e.g.
    * [[shingleHashSets]]'): the 8-byte arrays join and intersect as-is. */
  private def intersectionSizes(cand: DataFrame,
                                hsets0: DataFrame): DataFrame = {
    val s = cand.sparkSession
    import s.implicits._
    val hsets = hsets0.select($"doc_id", $"hset")
    cand
      .join(hsets.toDF("doc_a", "ha"), Seq("doc_a"))
      .join(hsets.toDF("doc_b", "hb"), Seq("doc_b"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"ha", $"hb")).cast(LongType).as("n_both"),
        size($"ha").cast(LongType).as("na"),
        size($"hb").cast(LongType).as("nb"))
  }

  /** MinHash-LSH parameters: 16 hash functions = 8 bands × 2 rows over a
    * 48-bit md5-prefix base hash mod the Mersenne prime 2³¹−1. Collision
    * probability per pair ≈ 1−(1−J²)⁸: ~53% at J=0.30, ~90% at J=0.50,
    * ~100% at J≥0.75 — tuned for the 0.30 report threshold where true
    * near-dups cluster high. All constants are inlined into BOTH the
    * Spark expressions and the oracle SQL from this one list. */
  private[ops] val MH_P = 2147483647L
  private[ops] val MH_AB: Seq[(Long, Long)] = (1 to 16).map { i =>
    ((1103515245L * i + 12345L) % MH_P, (69069L * i + 1013904223L) % MH_P)
  }
  private val MH_BANDS = 8 // × 2 rows each

  /** The shingle → hash → signature → band CTE prefix (`tok`/`sh`/`hs`/
    * `sig`/`bands`) shared by every oracle that replays the MinHash band
    * family — [[mhPairsCteSql]]'s verify chain composes on top, and
    * [[graft.streaming.TextGate]]'s registered gate query grafts its own
    * store-acceptance semantics onto the same prefix, so no oracle can
    * drift on what a band key is. */
  private[graft] val mhPairsBaseCteSql: String = {
    val sigColsSql = MH_AB.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * h + $b) % $MH_P) AS m$i"
    }.mkString(",\n    ")
    val bandsSql = (0 until MH_BANDS).map { bd =>
      s"SELECT doc_id, $bd AS band, concat_ws('_', m${2 * bd}, m${2 * bd + 1}) AS k FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""tok AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
      |  FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
      |hs AS (
      |  SELECT doc_id,
      |    CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % $MH_P AS h
      |  FROM sh),
      |sig AS (
      |  SELECT doc_id,
      |    $sigColsSql
      |  FROM hs GROUP BY doc_id),
      |bands AS (
      |  $bandsSql)""".stripMargin
  }

  /** The MinHash candidate + exact-verify pipeline as a DuckDB CTE chain
    * ending in `pairs(doc_a, doc_b, jaccard_q6)` — shared verbatim by the
    * pair query's oracle and the cluster query's (so the two oracles can
    * never drift apart on what a near-dup pair is). */
  private[ops] val mhPairsCteSql: String = {
    s"""$mhPairsBaseCteSql,
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM bands a
      |  JOIN bands b ON a.band = b.band AND a.k = b.k
      |    AND a.doc_id < b.doc_id),
      |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT doc_a, doc_b, COUNT(*) AS n_both
      |  FROM cand
      |  JOIN sh fa ON fa.doc_id = doc_a
      |  JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
      |  GROUP BY doc_a, doc_b),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    CAST(FLOOR(CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) * 1000000) AS BIGINT) AS jaccard_q6
      |  FROM inter
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.30)""".stripMargin
  }

  /** Near-dup detection via MinHash banding — the 100 TB candidate
    * generator: per-doc 16-slot minhash signature (one groupBy over the
    * shingle hashes, no shingle self-join at all), band into 8 buckets of
    * 2 slots, self-join on (band, bucket) — candidate volume is
    * sum(bucket²) per band, independent of shingle document frequency.
    * Exact Jaccard over full shingle sets then verifies the 0.30
    * threshold, so reported pairs are never false positives; banding only
    * bounds recall (by design, mirrored exactly in the oracle). */
  val minhashLshNeardup: QueryDef =
    QueryDef.sql(
      "minhash_lsh_neardup",
      s"""WITH $mhPairsCteSql
        |SELECT doc_a, doc_b, jaccard_q6 FROM pairs""".stripMargin) { (s, dir) =>
      minhashNeardupPairs(t(s, dir, "documents"))
    }

  /** MinHash-banded near-dup detector over ANY (doc_id, text) frame.
    * `stageLevel` is the storage level of the internal stage tables
    * (shingle sets, signatures); the no-arg form picks it
    * SIZE-adaptively ([[StageLevels.pinnedFor]]): in-memory when the
    * pool can hold the PROJECTED stage tables (~6× the source bytes)
    * without squeezing execution, DISK_ONLY otherwise — the fixed
    * pool-floor rule kept choosing memory at the 1000× corpus and
    * starved the signature aggregation (STRESS_r08.md §13). */
  def minhashNeardupPairs(docs: DataFrame): DataFrame =
    minhashNeardupPairs(docs, StageLevels.pinnedFor(docs))

  def minhashNeardupPairs(docs: DataFrame,
      stageLevel: StorageLevel): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      // disk regime: bound the columnar cache builder's per-task heap
      // spike before the first stage table materializes (fifth-decade
      // OOM — see StageLevels.tuneCacheBatchFor)
      StageLevels.tuneCacheBatchFor(s, stageLevel)
      // persist: without it the interpreted transform/array_distinct chain
      // under the explode re-evaluates per OUTPUT row (shingle), not per
      // document — a ~50x recompute (measured 8s of a 9s query at sf0.1)
      val sets = shingleSets(docs).persist(stageLevel)
      val bands = minhashBands(sets, stageLevel)
      // skew-aware band self-join (see BandJoin): a boilerplate-heavy
      // corpus collapses many docs into one (band, k) bucket, and that
      // bucket's pairs would serialize into one task — salted instead
      val cand = BandJoin.selfCandidates(bands)
        .toDF("doc_a", "doc_b")
        // scale telemetry (see rareShingleCandidates): the LSH candidate
        // count is the number this family's 100 TB claim rests on —
        // proportional to true-duplicate density, not corpus pairs
        .observe("minhash_candidates", count(lit(1)).as("n_pairs"))
      jaccardVerify(cand, sets)
  }

  /** (doc_id, band, k) LSH bucket keys from the per-doc shingle sets —
    * the shared signature stage of [[minhashNeardupPairs]] and
    * [[incrementalNeardup]]. The 16-slot signature aggregate is persisted
    * (stage-table materialization: every band consumer reads it instead
    * of recomputing; at 100 TB this is a written table that INCREMENTAL
    * loads extend batch-by-batch rather than rebuild). */
  private[ops] def minhashBands(sets: DataFrame): DataFrame =
    minhashBands(sets, StageLevels.pinnedFor(sets))

  private[ops] def minhashBands(sets: DataFrame,
      stageLevel: StorageLevel): DataFrame =
    minhashBandsImpl(sets, Some(stageLevel))

  /** [[minhashBands]] WITHOUT the internal signature-stage persist — for
    * callers that persist the OUTPUT themselves and drop it per
    * micro-batch (the streaming [[graft.streaming.TextGate]]), where a
    * per-batch cached signature stage would accumulate in the executor
    * pool with no unpersist hook. */
  private[graft] def minhashBandsUncached(sets: DataFrame): DataFrame =
    minhashBandsImpl(sets, None)

  private def minhashBandsImpl(sets: DataFrame,
      stageLevel: Option[StorageLevel]): DataFrame = {
    val s = sets.sparkSession
    import s.implicits._
    // Map-side signature (r12): the 16 slot minima are a per-ROW
    // property of the persisted shingle-set array, computed by ONE
    // native pass ([[graft.functions.MinHashSig]] — one MD5 per
    // element, folded into all 16 affine minima) instead of exploding
    // the shingled corpus through a 16-buffer hash aggregate. Values
    // are identical to the oracle's MIN((aᵢ·h+bᵢ) % P) formulation;
    // the explode AND its aggregation exchange disappear from the plan
    // (guide §2.4, §4.1 — LshSigsSpec pins slot-for-slot parity).
    // Empty sets are filtered, matching the old absent-group semantics.
    val sig0 = sets
      .where(size($"sset") > 0)
      .select($"doc_id", Kit.minhashSig($"sset", MH_AB, MH_P).as("sig"))
    val sig = stageLevel.map(sig0.persist).getOrElse(sig0)
    val bandStructs = (0 until MH_BANDS).map { bd =>
      struct(lit(bd).as("band"),
        concat_ws("_",
          element_at($"sig", 2 * bd + 1).cast("string"),
          element_at($"sig", 2 * bd + 2).cast("string")).as("k"))
    }
    sig
      .select($"doc_id", explode(array(bandStructs: _*)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.k".as("k"))
  }

  /** SimHash parameters: 48-bit fingerprints (the md5-prefix hash width),
    * banded 4 × 12 bits for candidate generation, Hamming ≤ 6 reported.
    * Collision: near-identical docs differ in a few bits, so at least one
    * 12-bit band matches with high probability; each bucket is tiny, so
    * the self-join never approaches doc². */
  private val SH_BITS = 48
  private val SH_BANDS = 4 // × 12 bits each
  private val SH_HAMMING_MAX = 6

  /** SimHash near-dup detection — the third dedup family (exact-hash →
    * MinHash-Jaccard → SimHash-Hamming): per doc, each distinct shingle
    * votes ±1 on every fingerprint bit by its hash bit; the fingerprint
    * takes the sign. Similar shingle sets → similar vote sums → small
    * Hamming distance. One groupBy with 48 conditional-sum columns (no
    * row explosion), band-bucketed candidate self-join, exact
    * `bit_count(xor)` verify. All bit arithmetic is identical in DuckDB,
    * so the oracle replays the whole pipeline bit-for-bit. */
  val simhashNeardup: QueryDef = {
    val sigSql = (0 until SH_BITS).map(b =>
      s"SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n      |    ")
    val fpSql = (0 until SH_BITS).map(b =>
      s"CASE WHEN s$b > 0 THEN CAST(1 AS BIGINT) << $b ELSE 0 END")
      .mkString(" + ")
    val bandsSql = (0 until SH_BANDS).map(k =>
      s"SELECT doc_id, fp, $k AS band, (fp >> ${12 * k}) & 4095 AS bv FROM fps")
      .mkString("\n      |  UNION ALL ")
    QueryDef.sql(
      "simhash_neardup",
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
        |  FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
        |hs AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigSql
        |  FROM hs GROUP BY doc_id),
        |fps AS (
        |  SELECT doc_id, $fpSql AS fp FROM sig),
        |bands AS (
        |  $bandsSql),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.fp AS fp_a, b.fp AS fp_b
        |  FROM bands a
        |  JOIN bands b ON a.band = b.band AND a.bv = b.bv
        |    AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, bit_count(xor(fp_a, fp_b)) AS hamming
        |FROM cand
        |WHERE bit_count(xor(fp_a, fp_b)) <= $SH_HAMMING_MAX""".stripMargin) { (s, dir) =>
      simhashNeardupPairs(t(s, dir, "documents"))
    }
  }

  /** SimHash near-dup detector over ANY (doc_id, text) frame. */
  def simhashNeardupPairs(docs: DataFrame): DataFrame = {
      val s = docs.sparkSession
      import s.implicits._
      // persist: see minhashNeardupPairs — explode would re-evaluate the
      // shingling per output row
      val sets = shingleSets(docs).persist()
      // Map-side fingerprint (r12, see minhashBandsImpl): one native
      // pass per set row ([[graft.functions.SimHashFp]] — per element
      // one MD5 and 48 ±1 votes, sign-folded) replaces the exploded
      // 48-column sum aggregate; vote sums and the sign fold are the
      // oracle's exact integer arithmetic. Persist: fingerprint stage
      // table read by both self-join sides.
      val fps = sets
        .where(size($"sset") > 0)
        .select($"doc_id", Kit.simhashFp($"sset", SH_BITS).as("fp"))
        .persist()
      val bandStructs = (0 until SH_BANDS).map(k =>
        struct(lit(k).as("band"),
          expr(s"shiftright(fp, ${12 * k}) & 4095").as("bv")))
      val bands = fps
        .select($"doc_id", $"fp", explode(array(bandStructs: _*)).as("bk"))
        .select($"doc_id", $"fp", $"bk.band".as("band"), $"bk.bv".as("bv"))
      val cand = bands.toDF("doc_a", "fp_a", "band", "bv")
        .join(bands.toDF("doc_b", "fp_b", "band", "bv"), Seq("band", "bv"))
        .where($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", $"fp_a", $"fp_b").distinct()
      cand
        .select($"doc_a", $"doc_b",
          bit_count(expr("fp_a ^ fp_b")).cast(LongType).as("hamming"))
        .where($"hamming" <= SH_HAMMING_MAX)
  }

  /** Sources whose documents play the "incoming batch" role in
    * [[incrementalNeardup]] (fixture sources are uniform, so this is 10%
    * of the corpus arriving against the other 90%). */
  private[graft] val IncSources = Seq("src2", "src3")

  /** Incremental dedup-on-ingest — the production shape of near-dedup: an
    * INCOMING batch is checked against the EXISTING corpus (plus earlier
    * rows of its own batch, so batch-internal dups also resolve to one
    * survivor) instead of re-deduping the world. Per incoming document:
    * how many existing/earlier docs it near-dups (MinHash-banded
    * candidates, exact-Jaccard ≥ 0.30 verified), the id it duplicates
    * (lowest match), and an is_new keep flag.
    *
    * At 100 TB the corpus side of the band join reads the PERSISTED
    * signature stage ([[minhashBands]] — a written table that each load
    * extends), so ingest cost scales with the batch, not the corpus: only
    * incoming documents are shingled and hashed, and the join touches
    * only buckets an incoming signature lands in. */
  val incrementalNeardup: QueryDef = {
    val sigColsSql = MH_AB.zipWithIndex.map { case ((a, b), i) =>
      s"MIN(($a * h + $b) % $MH_P) AS m$i"
    }.mkString(",\n      |    ")
    val bandsSql = (0 until MH_BANDS).map { bd =>
      s"SELECT doc_id, $bd AS band, concat_ws('_', m${2 * bd}, m${2 * bd + 1}) AS k FROM sig"
    }.mkString("\n      |  UNION ALL ")
    QueryDef.sql(
      "incremental_neardup",
      s"""WITH tok AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS ts FROM documents),
        |sh AS (
        |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
        |  FROM tok, UNNEST(range(1, greatest(len(ts) - 1, 1))) AS t(i)),
        |hs AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(s), 1, 12)) AS BIGINT) % $MH_P AS h
        |  FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    $sigColsSql
        |  FROM hs GROUP BY doc_id),
        |bands AS (
        |  $bandsSql),
        |src AS (
        |  SELECT doc_id, source IN ('${IncSources.mkString("','")}') AS is_inc
        |  FROM documents),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN src sa ON sa.doc_id = a.doc_id AND sa.is_inc
        |  JOIN bands b ON b.band = a.band AND b.k = a.k
        |    AND b.doc_id <> a.doc_id
        |  JOIN src sb ON sb.doc_id = b.doc_id
        |  WHERE (NOT sb.is_inc) OR b.doc_id < a.doc_id),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT doc_a, doc_b, COUNT(*) AS n_both
        |  FROM cand
        |  JOIN sh fa ON fa.doc_id = doc_a
        |  JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
        |  GROUP BY doc_a, doc_b),
        |ver AS (
        |  SELECT doc_a, doc_b
        |  FROM inter
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.30),
        |dups AS (
        |  SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_matches,
        |    MIN(doc_b) AS dup_of
        |  FROM ver GROUP BY doc_a)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_dup_matches, 0) AS BIGINT) AS n_dup_matches,
        |  dup_of, dup_of IS NULL AS is_new
        |FROM (SELECT doc_id FROM documents
        |      WHERE source IN ('${IncSources.mkString("','")}')) d
        |LEFT JOIN dups ON dups.doc_id = d.doc_id""".stripMargin) { (s, dir) =>
      incrementalNeardupReport(t(s, dir, "documents"), IncSources)
    }
  }

  /** The dedup-on-ingest detector over ANY (doc_id, source, text) frame;
    * rows whose source is in `incomingSources` form the batch, the rest
    * the existing corpus. */
  def incrementalNeardupReport(docs: DataFrame,
                               incomingSources: Seq[String]): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val sets = shingleSets(docs).persist()
    val isInc = $"source".isin(incomingSources: _*)
    val bands = minhashBands(sets)
      .join(docs.select($"doc_id", isInc.as("is_inc")), Seq("doc_id"))
    val cand = bands.where($"is_inc")
      .select($"doc_id".as("doc_a"), $"band", $"k")
      .join(bands.select($"doc_id".as("doc_b"), $"band", $"k",
        $"is_inc".as("b_inc")), Seq("band", "k"))
      .where($"doc_b" =!= $"doc_a" && (!$"b_inc" || $"doc_b" < $"doc_a"))
      .select($"doc_a", $"doc_b").distinct()
    val dups = jaccardVerify(cand, sets)
      .groupBy($"doc_a".as("doc_id"))
      .agg(count(lit(1)).as("n_dup_matches"), min($"doc_b").as("dup_of"))
    docs.where(isInc).select($"doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_dup_matches", lit(0L)).as("n_dup_matches"),
        $"dup_of", $"dup_of".isNull.as("is_new"))
  }

  /** Denylist redaction: replace policy-listed terms with a fixed marker
    * and report per-doc hit counts — the scrubbing pass a training
    * pipeline runs before landing a corpus (PII patterns, blocked
    * strings). Pure map-side regexp work inside whole-stage codegen:
    * zero shuffles, scales linearly with corpus bytes. The word-boundary
    * pattern means "customers" is NOT a hit for "customer" — span
    * semantics both engines' regex libraries agree on for ASCII. */
  val termScrub: QueryDef = {
    val pat = "\\b(customer|vector|stream)\\b"
    QueryDef.sql(
      "term_scrub",
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$pat')) AS BIGINT) AS n_hits,
         |  regexp_replace(text, '$pat', '<SCRUBBED>', 'g') AS scrubbed
         |FROM documents""") { (s, dir) =>
      import s.implicits._
      Tables.load(s, dir, "documents").select(
        $"doc_id",
        size(regexp_extract_all($"text", lit(pat), lit(0)))
          .cast(LongType).as("n_hits"),
        regexp_replace($"text", pat, "<SCRUBBED>").as("scrubbed"))
    }
  }

  /** Structured-PII redaction — the scrub stage between [[termScrub]]
    * (denylist words) and policy review: emails, IPv4 addresses,
    * phone-shaped numbers, and long digit runs (account-number
    * candidates) replaced with typed placeholders, with per-type hit
    * counts for audit. Applied INNERMOST-FIRST (email before digit-run,
    * IP before phone) so a broader pattern never eats a narrower one's
    * span. Pure map-side regexp work inside whole-stage codegen — zero
    * shuffles, linear in corpus bytes at any scale. Patterns are
    * RE2-compatible (no backrefs/lookahead) so the DuckDB oracle runs
    * them verbatim; the synthetic fixture carries no PII (counts are 0
    * there — the oracle pins schema/zero-ness), and the semantics are
    * pinned by PiiScrubSpec's planted corpus. */
  def piiScrubDocs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Sequential scrub: each pattern counts hits on the text AS ALREADY
    // SCRUBBED by the stages before it (so an email's digits are never
    // double-reported as a digit run), then replaces them. The oracle
    // replays the same chain.
    var out = docs.select($"doc_id", $"lang", $"text".as("scrubbed"))
    PiiPatterns.foreach { case (name, pat, repl) =>
      out = out
        .withColumn(s"n_$name",
          // NULL text yields count 0, never size(NULL) = -1 (Spark's
          // legacy sizeOfNull) — a -1 per null doc would silently skew
          // every audit total the rollup exists to report
          when($"scrubbed".isNull, 0L).otherwise(
            size(regexp_extract_all($"scrubbed", lit(pat), lit(0)))
              .cast(LongType)))
        .withColumn("scrubbed", regexp_replace($"scrubbed", pat, repl))
    }
    out.select(($"doc_id" +: $"lang" +: $"scrubbed" +:
      PiiPatterns.map { case (n, _, _) => col(s"n_$n") }): _*)
  }

  /** (name, RE2-compatible pattern, placeholder), innermost-first. */
  private[ops] val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("phone", "\\b\\d{3}[- ]\\d{3,4}[- ]\\d{4}\\b", "<PHONE>"),
    ("digitrun", "\\b\\d{9,}\\b", "<NUM>"))

  /** Registered form: per-language audit rollup of the PII scrub —
    * docs scanned, per-type hit totals, docs touched. Compact (one row
    * per language) at any corpus size. */
  val piiScrub: QueryDef = {
    // oracle replays the sequential scrub as a CTE chain: stage k counts
    // on stage k-1's text, then replaces (same innermost-first order)
    val stageCtes = PiiPatterns.zipWithIndex.map {
      case ((n, p, repl), i) =>
        val carried = PiiPatterns.take(i)
          .map { case (pn, _, _) => s"n_$pn, " }.mkString
        s"""p${i + 1} AS (
           |  SELECT lang, ${carried}CAST(len(regexp_extract_all(cur, '$p')) AS BIGINT) AS n_$n,
           |    regexp_replace(cur, '$p', '$repl', 'g') AS cur
           |  FROM p$i)""".stripMargin
    }
    val sums = PiiPatterns.map { case (n, _, _) =>
      s"CAST(SUM(n_$n) AS BIGINT) AS total_$n"
    }.mkString(", ")
    val anyHit = PiiPatterns.map { case (n, _, _) => s"n_$n > 0" }
      .mkString(" OR ")
    QueryDef.sql(
      "pii_scrub",
      s"""WITH p0 AS (SELECT lang, text AS cur FROM documents),
         |${stageCtes.mkString(",\n")}
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  $sums,
         |  CAST(SUM(CASE WHEN $anyHit THEN 1 ELSE 0 END) AS BIGINT)
         |    AS docs_touched
         |FROM p${PiiPatterns.size} GROUP BY lang""".stripMargin) { (s, dir) =>
      import s.implicits._
      val scrubbed = piiScrubDocs(Tables.load(s, dir, "documents"))
      val touched = PiiPatterns
        .map { case (n, _, _) => col(s"n_$n") > 0 }
        .reduce(_ || _)
      val aggs = PiiPatterns.map { case (n, _, _) =>
        sum(col(s"n_$n")).as(s"total_$n")
      } :+ sum(when(touched, 1L).otherwise(0L)).as("docs_touched")
      scrubbed.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), aggs: _*)
    }
  }

  /** Chunk-level boilerplate removal — the C4/CCNet "global line dedup"
    * pipeline stage: any 10-token chunk that appears in MORE THAN ONE
    * document corpus-wide is boilerplate (headers, footers, license
    * blurbs) and is scrubbed from every document, preserving the
    * surviving chunks' order. Chunking is deterministic (consecutive
    * 10-token windows), so the operator is a pure function of the corpus.
    *
    * Scale shape: the frequency pass groups by (xxhash64, chunk) — the
    * 8-byte hash leads the shuffle key, the text tags along only for
    * exactness against the oracle (at 100 TB you would drop the text and
    * accept the 2⁻⁶⁴ collision odds, halving shuffle bytes); the
    * boiler set joins back on the same key, and reassembly is one
    * groupBy(doc_id) with an order-restoring array_sort — no window, no
    * global sort. */
  val boilerplateScrub: QueryDef = QueryDef.sql(
    "boilerplate_scrub",
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
      |idx AS (
      |  SELECT doc_id, ts,
      |    unnest(range(((len(ts) - 1) // 10) + 1)) AS i
      |  FROM toks),
      |chunks AS (
      |  SELECT doc_id, i AS chunk_no,
      |    array_to_string(list_slice(ts, i * 10 + 1, i * 10 + 10), ' ') AS chunk
      |  FROM idx),
      |boiler AS (
      |  SELECT chunk FROM chunks GROUP BY chunk
      |  HAVING COUNT(DISTINCT doc_id) > 1)
      |SELECT c.doc_id,
      |  COALESCE(string_agg(CASE WHEN b.chunk IS NULL THEN c.chunk END,
      |    ' ' ORDER BY c.chunk_no), '') AS clean_text,
      |  COUNT(*) AS n_chunks,
      |  CAST(SUM(CASE WHEN b.chunk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped
      |FROM chunks c LEFT JOIN boiler b ON c.chunk = b.chunk
      |GROUP BY c.doc_id""") { (s, dir) =>
    boilerplateScrubDocs(Tables.loadSpread(s, dir, "documents"))
  }

  /** Core of [[boilerplateScrub]] over any (doc_id, text) frame. */
  def boilerplateScrubDocs(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val chunks = docs
      .select($"doc_id", split($"text", " ").as("ts"))
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, (size(ts) - 1) div 10),
          |  i -> array_join(slice(ts, i * 10 + 1, 10), ' '))"""
          .stripMargin)).as(Seq("chunk_no", "chunk")))
      .withColumn("h", xxhash64($"chunk"))
      .persist() // stage table: read by the frequency pass and the re-join
    val boiler = chunks
      .groupBy($"h", $"chunk")
      .agg(count_distinct($"doc_id").as("nd"))
      .where($"nd" > 1)
      .select($"h", $"chunk", lit(true).as("is_boiler"))
    chunks.join(boiler, Seq("h", "chunk"), "left")
      .withColumn("drop", coalesce($"is_boiler", lit(false)))
      .groupBy($"doc_id")
      .agg(
        array_join(
          transform(
            array_sort(collect_list(
              when(!$"drop", struct($"chunk_no", $"chunk")))),
            x => x.getField("chunk")),
          " ").as("clean_text"),
        count(lit(1)).as("n_chunks"),
        sum(when($"drop", 1L).otherwise(0L)).as("n_dropped"))
  }

  /** Window width (tokens) for [[dupSpanCoverage]]: long enough that a
    * shared span is verbatim duplication rather than a common phrase at
    * the fixture's ~30-token documents; the production analogue is the
    * 50-token window of Lee et al., "Deduplicating Training Data Makes
    * Language Models Better" (ACL 2022), whose suffix-array exact-
    * substring dedup this operator re-expresses at w-gram granularity. */
  private val SPAN_W = 8

  /** EXACT DUPLICATE-SPAN COVERAGE — the within-document complement of
    * the whole/near-document dedup family: verbatim spans (boilerplate,
    * licenses, quoted chunks) repeated ANYWHERE in the corpus, which
    * document-level MinHash/SimHash miss by construction when the host
    * documents differ. Every [[SPAN_W]]-token window is hashed; a window
    * occurring at more than one (doc, position) is a duplicated span;
    * per document the operator reports how many tokens the UNION of its
    * duplicated windows covers — the "fraction of text that is verbatim
    * duplicate" signal Lee et al. trim on.
    *
    * Scale shape — LINEAR, never pairwise: the gram stream is one row
    * per token position; occurrence counting is one map-side-combined
    * groupBy on the gram hash; the dup-position fetch is an equi-join on
    * the same hash (a semi-join, no pair enumeration — a span repeated
    * in 10⁶ documents contributes 10⁶ rows, not 10¹² pairs); interval
    * union is a per-document window (equal-width intervals ⇒ covered =
    * Σ min(w, nextₚ − p), last window w) — partitioned by doc_id, never
    * a global window. Documents shorter than w tokens pass through with
    * zero coverage via the left join. */
  val dupSpanCoverage: QueryDef = QueryDef.sql(
    "dup_span_coverage",
    s"""WITH base AS (
      |  SELECT doc_id, string_split(lower(text), ' ') AS ts,
      |    len(string_split(lower(text), ' ')) AS n
      |  FROM documents),
      |grams AS (
      |  SELECT doc_id, i AS p,
      |    array_to_string(list_slice(ts, i, i + ${SPAN_W - 1}), ' ') AS g
      |  FROM base, UNNEST(range(1, greatest(n - $SPAN_W + 2, 1))) AS t(i)),
      |dup AS (SELECT g FROM grams GROUP BY g HAVING COUNT(*) > 1),
      |dpos AS (SELECT doc_id, p FROM grams JOIN dup USING (g)),
      |cov AS (
      |  SELECT doc_id, p,
      |    LEAST($SPAN_W,
      |      COALESCE(LEAD(p) OVER (PARTITION BY doc_id ORDER BY p) - p,
      |               $SPAN_W)) AS c
      |  FROM dpos),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_dup_grams,
      |    CAST(SUM(c) AS BIGINT) AS dup_tokens
      |  FROM cov GROUP BY doc_id)
      |SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens,
      |  COALESCE(a.n_dup_grams, 0) AS n_dup_grams,
      |  COALESCE(a.dup_tokens, 0) AS dup_tokens,
      |  CAST(FLOOR(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / b.n
      |    * 1000000) AS BIGINT) AS dup_frac_q6
      |FROM base b LEFT JOIN agg a USING (doc_id)""".stripMargin) { (s, dir) =>
    dupSpanCoverageOf(t(s, dir, "documents"))
  }

  /** [[dupSpanCoverage]]'s engine on any (doc_id, text) frame —
    * separated for planted-corpus behavioral specs (DupSpanSpec). */
  def dupSpanCoverageOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs
      .select($"doc_id", split(lower($"text"), " ", -1).as("ts"))
      .withColumn("n", size($"ts"))
    // stage table: the gram stream is read by the occurrence-count pass
    // AND the dup-position probe join — unpersisted, the tokenize +
    // window-hash chain under the generator re-runs per consumer (the
    // TextOps recompute pathology); size-adaptive level since the gram
    // stream is ~token-count rows
    val grams = base
      .where($"n" >= SPAN_W)
      .select($"doc_id",
        explode(sequence(lit(1), $"n" - SPAN_W + 1)).as("p"), $"ts")
      // xxhash64 of the token SLICE as the gram key: an 8-byte shuffle
      // key, computed by one codegen'd hash over the array elements —
      // no w-token string is ever built and no cryptographic digest
      // runs per position (a 500× measurement caught md5+hex-parse
      // dominating the wall). Engine-independence is free here because
      // the hash value never crosses engines — only the per-doc COUNTS
      // reach the output — so each engine may key on any collision-free
      // stand-in for the gram string (DuckDB uses the string itself);
      // the md5-prefix convention is for values the oracle must REPLAY.
      // Collision odds at 10⁹ distinct grams ≈ (10⁹)²/2⁶⁵ ≈ 3·10⁻²
      // false-dup pairs corpus-wide — far below the detector's own
      // w-gram granularity error
      .select($"doc_id", $"p",
        xxhash64(slice($"ts", $"p", lit(SPAN_W))).as("g"))
    val lvl = StageLevels.pinnedFor(docs)
    val gramsPinned = grams.persist(lvl)
    val dup = gramsPinned.groupBy($"g").agg(count(lit(1)).as("cnt"))
      .where($"cnt" > 1).select($"g")
    // dup grams are a small fraction of the stream (3–6% of positions on
    // the stress corpora), but the probe join used to exchange the FULL
    // gram stream to meet them — at the fifth decade (20M docs, 940M
    // grams) that exchange plus its sort spill was a >71 GB scratch
    // high-water mark and the DISK, not the heap, became the wall
    // (STRESS_r10.md §5). In the DISK_ONLY corpus regime — the same
    // size decision that pinned the gram stage — Bloom-prune the stream
    // before the exchange (the bloom_prune_join discipline): the filter
    // passes dup positions + fpp·unique grams, and the exact equi-join
    // behind it drops the false positives, so the result is
    // bit-identical while the join exchanges ~5% of the bytes (34 GB
    // high-water and 1.2–1.4× faster at the measured decades). Below
    // that regime the sketch's fixed cost (an extra dup count to size
    // it) only burdens the hot path, so the plan stays the pre-fix
    // two-sided join. dup is persisted in the Bloom branch — it feeds
    // the sizing count, the sketch build, and the join; unpersisted,
    // each would replay the corpus-wide occurrence count.
    val dpos =
      if (lvl == StorageLevel.DISK_ONLY) {
        val dupP = dup.persist(StorageLevel.MEMORY_AND_DISK)
        val nDup = math.max(1000L, dupP.count())
        val bloom =
          graft.functions.BloomMightContain.build(dupP, "g", nDup, 0.01)
        gramsPinned.where(Kit.bloomMightContain(bloom, $"g"))
          .join(dupP, Seq("g")).select($"doc_id", $"p")
      } else gramsPinned.join(dup, Seq("g")).select($"doc_id", $"p")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
    val agg = dpos
      .select($"doc_id", $"p",
        least(lit(SPAN_W),
          coalesce(lead($"p", 1).over(w) - $"p", lit(SPAN_W))).as("c"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_dup_grams"), sum($"c").cast(LongType).as("dup_tokens"))
    base.join(agg, Seq("doc_id"), "left")
      .select($"doc_id", $"n".cast(LongType).as("n_tokens"),
        coalesce($"n_dup_grams", lit(0L)).as("n_dup_grams"),
        coalesce($"dup_tokens", lit(0L)).as("dup_tokens"),
        floor(coalesce($"dup_tokens", lit(0L)).cast(DoubleType) / $"n"
          * 1000000).cast(LongType).as("dup_frac_q6"))
  }

  val all: Seq[QueryDef] = Seq(
    dedupExactDocs, textStats, tfidfTopTerms, heavyHittersTerms,
    unigramNllScore, bigramNllScore, termScrub, piiScrub,
    boilerplateScrub,
    langHistogram, langIdHeuristic,
    qualityFilter, corpusCuration, docFingerprint, ngramJaccardNeardup,
    containmentNeardup,
    minhashLshNeardup, simhashNeardup, incrementalNeardup,
    dupSpanCoverage)
}
