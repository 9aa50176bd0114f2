package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Kit
import graft.sources.Tables

/** THE SCALE LADDER FOR FUZZY ENTITY MATCHING (round-11 verdict #4).
  *
  * The registered `fuzzy_match_entities`/`fuzzy_jw_entities` block on
  * `c_nationkey` (25 values), so their per-block pair loop is O(n²/25):
  * exact, fast at sf0.1, quadratic at 100× data — they stay as the
  * DESIGNATED EXACTNESS BASELINES (same convention as
  * `similarity_topk`/`pq_topk`). This is the production form: candidate
  * pairs come from MinHash-LSH banding over NAME CHARACTER 3-GRAMS
  * (the `ops/BandJoin` machinery the document near-dup family already
  * proved linear to 20M docs), then the survivors are verified with the
  * exact native Jaro-Winkler kernel — candidates ∝ true-match density,
  * never Σ(block²).
  *
  * Banding geometry differs from the document family deliberately:
  * 4 bands × 4 rows, and — unlike the document family — each slot gets
  * its OWN independent hash (a disjoint 32-bit chunk of a
  * slot-group-keyed md5, [[nameBands]]), not an affine transform
  * `(aᵢ·h + bᵢ) mod P` of one shared gram hash. The affine
  * family ([[TextOps.MH_AB]]) was this form's first cut and it is
  * QUADRATIC on names, found by measurement at 1.1M names (round 12):
  * because aᵢ and bᵢ are both linear in the slot index i, a single
  * gram's slot values mᵢ(g) = (A_g·i + B_g) mod P are linear in i, so
  * any gram with small A_g and B_g is the arg-min of EVERY slot of a
  * band (the giveaway: the largest band keys are arithmetic
  * progressions, e.g. `16279434_15860058_15440682_15021306`, step
  * 419,376, bucket size 3,573 — and the same name tops several bands).
  * Band keys collapse to a one-gram fingerprint; over the FIXED
  * 4,096-gram hex-3-gram space each gram's carrier count grows ∝ n, so
  * candidates grew Σ(DF²) ≈ n²/4,096-ish: 15.6 candidates/name at 1.1M
  * names ≈ 21M pairs, ~220 false per true. With independent per-slot
  * hashes the J⁴ model actually holds: random-pair collision is
  * E[(m/u)⁴] ≈ 10⁻⁸ (m = shared grams ~Poisson(0.22), u ≈ 59), and
  * measured candidates drop ~200× to plant-dominated (STRESS_r12 §4).
  * The document family keeps the shared-hash family: the same
  * correlation exists there, but its bucket keys degrade to
  * single-SHINGLE fingerprints whose document frequency is bounded
  * (shingle space grows with the corpus), so its candidates stay
  * measured-linear to 20M docs — the name-gram space is fixed at
  * 4,096, which is exactly why names need the stronger family.
  * Entity resolution verifies at HIGH similarity (JW ≥ 0.95 ⇒
  * gram-Jaccard ≥ ~0.75 for same-length names), where r = 4 holds
  * random pairs at J⁴ while a 1-char-edit true pair (J ≈ 0.82)
  * collides in ≥1 of 4 bands with ~90% probability. The document
  * family's 2-row bands (tuned for its 0.30 report threshold) would
  * collide ~every pair of TPC-H's template names.
  *
  * THE FIXTURE PROBLEM, measured and designed around: TPC-H `c_name`
  * is `Customer#000000001` — 18 chars of which ~10 are a shared
  * template, so corpus-wide gram Jaccard between RANDOM pairs is ~0.6
  * and ANY content-based blocking (grams, prefixes, partition
  * pigeonholes) degenerates toward all-pairs. That is a property of
  * the synthetic fixture, not of entity resolution: real name corpora
  * have entropy. The registered query therefore PLANTS a
  * realistic-entropy name corpus in-query, deterministically and
  * identically in Spark and the oracle (the `embedding_neardup_planted`
  * convention): nm = md5(custkey) — 32 hex chars — plus, for every
  * custkey ≡ 0 (mod 10), a copy with ONE substituted character at a
  * key-dependent position. Plants are true JW ≥ 0.95 matches; random
  * pairs sit at JW ≈ 0.6–0.75 and gram-Jaccard ≈ 0.004. The oracle
  * replays shingling, hashing, banding, candidates, and the JW verify
  * exactly, so the hash check pins the whole pipeline (recall loss is
  * mirrored by construction — banding bounds recall, never precision).
  */
object FuzzyBand {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** 4 bands × 4 rows over 16 INDEPENDENT per-slot minhash functions. */
  private val FB_BANDS = 4

  /** (entity_id, band, k) LSH bucket keys from an (entity_id, nm)
    * frame — character-3-gram shingles, 16 independent per-slot hashes
    * (scheme below), 16-slot signature, 4-slot band keys.
    * The name-scale sibling of [[TextOps.minhashBands]], including its
    * stage-table discipline: the SIGNATURE aggregation is persisted
    * (every band projection and both self-join sides read it; without
    * the pin the 4-way band union re-runs the gram/minhash aggregation
    * per projection — measured ~2× on the registered query), dropped by
    * the harness clearCache() convention.
    *
    * Per-slot gram hash scheme: slot i reads an 8-hex-char (32-bit)
    * chunk of `md5(g || '|' || i/4)` — 4 md5 calls per gram, 4 disjoint
    * chunks each ([[graft.functions.FuzzyBandSig]] is the native
    * one-pass kernel). Disjoint bit-ranges of a cryptographic hash are
    * independent orderings of the gram space, which is the property
    * the affine family lacked (see object doc: shared-hash affine
    * slots collapse band keys to one-gram fingerprints, measured
    * quadratic at 1.1M names). 32-bit chunks leave no meaningful tie
    * mass over the ~4k-gram space (E[tie pairs] ≈ 2·10⁻³ per slot, and
    * a single-slot tie still needs 3 more independent slot matches to
    * band-collide); one md5 per slot measured 16 md5s/gram ≈ 3 s of
    * fixed cost on the registered query — the chunked form pays 4. */
  private[graft] def nameBands(names: DataFrame): DataFrame = {
    val s = names.sparkSession
    import s.implicits._
    // Explicit-count spread on the grouping key: a names table often
    // arrives as a handful of parquet files (one, at fixture scale), and
    // the gram/md5/min pipeline is cpu-per-byte-heavy — left on the scan
    // partitioning it runs ~single-threaded (measured 3× the query wall
    // at sf0.1). Hash-partitioning on entity_id satisfies the signature
    // groupBy's distribution, so this replaces the agg exchange rather
    // than adding one; the explicit count keeps AQE from coalescing the
    // tiny-in-bytes exchange back to one task (the BandJoin lesson).
    val spread = names.repartition(
      s.sessionState.conf.numShufflePartitions, $"entity_id")
    // Map-side signature (r12, the minhashBandsImpl change applied to
    // the name family): the 16 slot minima are computed from the
    // per-row DISTINCT gram array by ONE native pass
    // ([[graft.functions.FuzzyBandSig]] — per gram the 4 slot-group
    // MD5s, 4 disjoint 32-bit chunks each, folded into 16 minima; each
    // md5 is computed exactly once per gram, which the old exploded
    // aggregate needed a separate projection to guarantee). No gram
    // explode, no 16-buffer hash aggregate, no aggregation exchange;
    // values are identical to the oracle's formulation (LshSigsSpec).
    val sig = spread
      .select($"entity_id", array_distinct(expr(
        "transform(sequence(1, length(nm) - 2), i -> substring(nm, i, 3))"))
        .as("gs"))
      .where(size($"gs") > 0)
      .select($"entity_id", Kit.fuzzyBandSig($"gs", 4, 4).as("sig"))
      .persist(StageLevels.pinnedFor(names))
    (0 until FB_BANDS).map { bd =>
      sig.select($"entity_id", lit(bd).as("band"),
        concat_ws("_", (0 until 4).map(r =>
          element_at($"sig", 4 * bd + r + 1).cast("string")): _*)
          .as("k"))
    }.reduce(_ unionByName _)
  }

  /** Banded candidate pairs + exact-JW verify over an (entity_id, nm)
    * frame — the production entity-matching pass. The signature stage
    * is persisted (read by all 4 band projections + both verify sides
    * feed off `names`, not the bands); [[BandJoin.selfCandidates]]
    * provides the hot-bucket-salted pair join. */
  def fuzzyBandedPairs(names: DataFrame, jwThreshold: Double): DataFrame = {
    val s = names.sparkSession
    import s.implicits._
    // nameBands pins the signature stage; the band projections over it
    // are narrow column ops, so no second pin is needed here
    val bands = nameBands(names)
    val cand = BandJoin.selfCandidates(bands)
      .toDF("key_a", "key_b")
      .observe("fuzzy_band_candidates", count(lit(1)).as("n_pairs"))
    cand
      .join(names.select($"entity_id".as("key_a"), $"nm".as("nm_a")),
        Seq("key_a"))
      .join(names.select($"entity_id".as("key_b"), $"nm".as("nm_b")),
        Seq("key_b"))
      .where(Kit.jaroWinkler($"nm_a", $"nm_b") >= jwThreshold)
      .select($"key_a", $"key_b",
        Kit.quantize(Kit.jaroWinkler($"nm_a", $"nm_b"), 6).as("jw_q6"))
  }

  /** The planted realistic-entropy name corpus over `customer` —
    * IDENTICAL construction in Spark and DuckDB (see object doc):
    * every customer gets nm = md5(custkey); every 10th also plants a
    * near-copy (id + 10⁸) with one key-dependent substituted char. */
  private[ops] def plantedNames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "customer")
      .select($"c_custkey".cast("long").as("entity_id"),
        md5($"c_custkey".cast("string")).as("nm"))
    val plants = t(s, dir, "customer")
      .where($"c_custkey" % 10 === 0)
      .select(($"c_custkey".cast("long") + 100000000L).as("entity_id"),
        expr("""concat(
          substr(md5(CAST(c_custkey AS STRING)), 1, CAST(c_custkey % 27 + 3 AS INT)),
          'z',
          substr(md5(CAST(c_custkey AS STRING)), CAST(c_custkey % 27 + 5 AS INT)))""")
          .as("nm"))
    base.unionByName(plants)
  }

  /** The oracle's replay of [[plantedNames]] + [[nameBands]] +
    * candidates + JW verify, as one DuckDB CTE chain — the name-corpus
    * sibling of [[TextOps.mhPairsCteSql]]. */
  private def fuzzyBandedOracleSql(jwThreshold: Double): String = {
    val sigColsSql = (0 until 16).map { i =>
      s"MIN(CAST(('0x' || substr(md5(g || '|${i / 4}'), ${8 * (i % 4) + 1}, 8))" +
        s" AS BIGINT)) AS m$i"
    }.mkString(",\n    ")
    val bandsSql = (0 until FB_BANDS).map { bd =>
      val key = (0 until 4).map(r => s"m${4 * bd + r}").mkString(", ")
      s"SELECT entity_id, $bd AS band, concat_ws('_', $key) AS k FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH names AS (
      |  SELECT CAST(c_custkey AS BIGINT) AS entity_id,
      |    md5(CAST(c_custkey AS VARCHAR)) AS nm
      |  FROM customer
      |  UNION ALL
      |  SELECT CAST(c_custkey AS BIGINT) + 100000000 AS entity_id,
      |    concat(
      |      substr(md5(CAST(c_custkey AS VARCHAR)), 1, CAST(c_custkey % 27 + 3 AS INT)),
      |      'z',
      |      substr(md5(CAST(c_custkey AS VARCHAR)), CAST(c_custkey % 27 + 5 AS INT))) AS nm
      |  FROM customer WHERE c_custkey % 10 = 0),
      |grams AS (
      |  SELECT DISTINCT entity_id, substr(nm, i, 3) AS g
      |  FROM names, UNNEST(range(1, len(nm) - 1)) AS t(i)),
      |sig AS (
      |  SELECT entity_id,
      |    $sigColsSql
      |  FROM grams GROUP BY entity_id),
      |bands AS (
      |  $bandsSql),
      |cand AS (
      |  SELECT DISTINCT a.entity_id AS key_a, b.entity_id AS key_b
      |  FROM bands a
      |  JOIN bands b ON a.band = b.band AND a.k = b.k
      |    AND a.entity_id < b.entity_id)
      |SELECT key_a, key_b,
      |  CAST(FLOOR(jaro_winkler_similarity(na.nm, nb.nm) * 1000000) AS BIGINT) AS jw_q6
      |FROM cand
      |JOIN names na ON na.entity_id = key_a
      |JOIN names nb ON nb.entity_id = key_b
      |WHERE jaro_winkler_similarity(na.nm, nb.nm) >= $jwThreshold""".stripMargin
  }

  val fuzzyBandedEntities: QueryDef = QueryDef.sql(
    "fuzzy_banded_entities",
    fuzzyBandedOracleSql(0.95)) { (s, dir) =>
    fuzzyBandedPairs(plantedNames(s, dir), 0.95)
  }

  val all: Seq[QueryDef] = Seq(fuzzyBandedEntities)
}
