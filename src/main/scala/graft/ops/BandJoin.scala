package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-aware candidate enumeration for LSH band self-joins.
  *
  * Every banded detector in this engine ([[Similarity]]'s sign-LSH and
  * random-projection families, [[TextOps]]' MinHash) enumerates
  * candidate pairs with a self-join on `(band, bucket)`. That join's
  * cost is Σ m² over bucket sizes m — and a single HOT bucket (an
  * all-zeros embedding cluster, a boilerplate-dominated shingle, an
  * adversarial corpus) concentrates m²/2 pairs in ONE shuffle
  * partition. AQE's skew-join split does NOT help here: its heuristic
  * reads shuffle partition BYTES, and a hot LSH bucket is kilobytes of
  * (id, band, bucket) rows that EXPAND to millions of output pairs —
  * input-size-blind fan-out skew (measured in STRESS_r06.md: the
  * planted 20%-hot-bucket fixture leaves the executed plan without a
  * single `skew=true` split while one straggler task enumerates ~8M
  * pairs).
  *
  * The guard is gated by a PRE-PROBE so the 99.99% of well-behaved
  * corpora pay (almost) nothing:
  *
  *   0. one partially-aggregated bucket count reduces to a single
  *      driver scalar `max(m)` — map-side combine means the shuffle
  *      carries only DISTINCT (band, bucket) keys, and the upstream
  *      lineage is the callers' persisted signature stage tables, so
  *      the probe is a cache scan + a tiny exchange (measured ~0.1 s
  *      vs the ~1 s windowed sizing + eager persist it replaces on the
  *      sf0.1 banded family — the round-6 guard paid that insurance
  *      unconditionally, +3 s/round on corpora with no hot bucket);
  *   1. `max(m) ≤ hotThreshold` → NO hot bucket exists; the ordinary
  *      `(band, bucket)` self-join with full plan freedom
  *      (broadcast/SMJ) is the whole answer, nothing is persisted;
  *   2. otherwise one windowed count over `(band, bucket)` annotates
  *      every band row with its bucket size `m` and the annotated
  *      table is materialized ONCE as a cached stage table every later
  *      stage reads (a separate sizes-aggregation + broadcast
  *      anti-join gave the plan FIVE consumers of the lazy band input
  *      whose concurrently-built broadcast exchanges raced the
  *      callers' stage-table cache — 3× wall, round-6 measurement);
  *      rows with m ≤ `hotThreshold` take the ordinary self-join;
  *   3. hot rows get a deterministic salt `hash(id) mod S`; each side
  *      is replicated S ways (left over peer-salt `p`, right over
  *      peer-salt `q`) and the join key becomes
  *      `(band, bucket, saltA, saltB)` — each (a, b) pair matches
  *      EXACTLY once (at saltA = q, saltB = p), and a bucket's m²/2
  *      pairs spread over S² independent shuffle keys, bounding any one
  *      task at ~m²/S². Replication cost is S× the hot rows only.
  *
  * Output: distinct undirected pairs `(va, vb)` with `va < vb` — the
  * same contract as the unsalted join the callers previously inlined,
  * so oracles are unchanged (salting redistributes enumeration, never
  * membership; pinned by BandJoinSpec against the naive join).
  *
  * CACHE LIFECYCLE CONTRACT: when (and only when) the probe finds a hot
  * bucket, the sized band table is persisted and stays cached until the
  * session's next `catalog.clearCache()` — the lifecycle of the callers'
  * own stage tables, which the bench/verify harness clears per query. A
  * long-lived session invoking banded detectors repeatedly on HOT
  * corpora should use [[selfCandidatesManaged]] and call the returned
  * release hook once the candidate frame has been consumed.
  *
  * At 100 TB: probe, sizes pass, and the salted union all shuffle
  * (band, bucket, id)-shaped rows; no stage's per-task work exceeds
  * max(coldThreshold², hotMax²/S²) pair enumerations, so one poisoned
  * bucket degrades a task by a bounded factor instead of serializing
  * the stage.
  */
object BandJoin {

  /** Default geometry of [[selfCandidates]]: buckets with more than
    * `HotThreshold` members are salted across `Salts`² join keys. A
    * caller facing a known-skewed corpus passes a lower threshold to
    * the explicit-geometry overload; evidence runs pass Long.MaxValue
    * to disable salting and measure the straggler it avoids
    * (STRESS_r06.md does exactly that). */
  val HotThreshold = 1024L
  val Salts = 8

  /** Distinct undirected candidate pairs (va < vb) from a `(id, band,
    * k)` band table, salting buckets with more than [[HotThreshold]]
    * members across [[Salts]]² join keys. `dedup = false` skips the final
    * distinct — correct ONLY when the band table has a single band per
    * id (one bucket each, so no pair can collide twice); the dedup's
    * shuffle of the full candidate volume is this join's single biggest
    * non-enumeration cost (measured ~0.5 s on ann_lsh_topk at sf0.1).
    *
    * EAGER AT CALL TIME: the hot-bucket pre-probe runs a Spark job
    * (one driver scalar) before this method returns, and on the cold
    * path the returned plan re-reads `bands` on both self-join sides —
    * up to 3 evaluations of the band lineage when `bands` is not
    * persisted. Callers should persist their band table first (all
    * current callers do); an unpersisted call is correct but pays the
    * band computation up to 3×. See the object scaladoc for the
    * hot-path cache lifecycle. */
  def selfCandidates(bands: DataFrame, dedup: Boolean = true): DataFrame =
    selfCandidates(bands, HotThreshold, Salts, dedup)

  /** As [[selfCandidates(bands:org\.apache\.spark\.sql\.DataFrame,dedup:Boolean)*]],
    * with explicit geometry. */
  def selfCandidates(bands: DataFrame, hotThreshold: Long,
                     salts: Int, dedup: Boolean): DataFrame =
    selfCandidatesManaged(bands, hotThreshold, salts, dedup)._1

  /** As [[selfCandidates(bands:org\.apache\.spark\.sql\.DataFrame,hotThreshold:Long,salts:Int,dedup:Boolean)*]],
    * returning `(pairs, release)` where `release()` unpersists any
    * stage table this call cached (a no-op on the cold path, which
    * caches nothing). Call it AFTER the candidate frame has been fully
    * consumed — the pairs plan reads the cached table lazily. */
  def selfCandidatesManaged(bands: DataFrame, hotThreshold: Long,
      salts: Int, dedup: Boolean): (DataFrame, () => Unit) = {
    val s = bands.sparkSession
    import s.implicits._
    val src = bands.toDF("id", "band", "k")
    def finish(pairs: DataFrame): DataFrame = {
      val p = pairs.select($"va", $"vb")
      if (dedup) p.distinct() else p
    }
    // Pre-probe (step 0 above): ONE driver scalar decides whether any
    // hot bucket exists. Partial aggregation shrinks the exchange to
    // distinct (band, k) keys; the lineage cost is a scan of the
    // callers' persisted signature tables.
    val probe = src.groupBy($"band", $"k").agg(count(lit(1)).as("m"))
      .agg(max($"m")).collect()(0)
    val maxM = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    if (maxM <= hotThreshold) {
      // No hot bucket CAN exist: the plain self-join is the whole
      // answer, with the same plan freedom (broadcast/SMJ) as the
      // pre-guard design — well-behaved corpora keep their cheap plan.
      val coldPairs = src.select($"id".as("va"), $"band", $"k")
        .join(src.select($"id".as("vb"), $"band", $"k"), Seq("band", "k"))
        .where($"va" < $"vb")
      return (finish(coldPairs), () => ())
    }
    // Hot corpus: bucket sizes via a WINDOWED count, materialized ONCE
    // as an eager cached stage table (see object scaladoc for why not
    // a sizes aggregation + anti-join). The eager count() pays the
    // band lineage exactly once; hot/cold are then FILTERS over the
    // ~32-byte-per-row cached table.
    val w = org.apache.spark.sql.expressions.Window.partitionBy($"band", $"k")
    val sized = src.withColumn("m", count(lit(1)).over(w)).persist()
    sized.count()
    // AQE-coalescing guard on the HOT path, learned the measured way
    // (STRESS_r06.md): the salted join's input is SMALL IN BYTES (a
    // band row is ~24 bytes) but EXPANDS quadratically per bucket, and
    // AQE's partition coalescing — like its skew split — only reads
    // shuffle bytes. Left to its defaults it merged the salted join's
    // 32 partitions into 3 tasks and re-serialized the very straggler
    // the salting had split (measured 41 s maxTask; 5.7 s pinned).
    // Explicit-numPartitions repartitions pin the exchanges
    // (user-specified counts are exempt from coalescing) on exactly the
    // join keys, so they satisfy the join's required distribution — no
    // extra shuffle beyond the one the join needs anyway. The COLD join
    // is deliberately NOT pinned: its per-bucket fan-out is bounded by
    // hotThreshold², and pinning would forfeit the broadcast-hash plan
    // that makes well-behaved corpora cheap (measured 2.1× on the 10×
    // MinHash fixture).
    val n = s.sessionState.conf.numShufflePartitions
    val cold = sized.where($"m" <= hotThreshold)
    val hot = sized.where($"m" > hotThreshold)
      .withColumn("salt", pmod(xxhash64($"id"), lit(salts)))
    val coldPairs = cold.select($"id".as("va"), $"band", $"k")
      .join(cold.select($"id".as("vb"), $"band", $"k"), Seq("band", "k"))
      .where($"va" < $"vb")
    // left replicated over peer-salt p, right over peer-salt q; matching
    // (band, k, saltA, p) = (band, k, q, saltB) pairs each (a, b) exactly
    // once and splits one bucket's enumeration over salts^2 shuffle keys
    val peers = explode(sequence(lit(0L), lit(salts - 1L)))
    // disjoint column names per side: a band self-join on shared
    // attribute references is ambiguous to the analyzer
    val hotA = hot.select($"id".as("va"), $"band".as("band_a"),
      $"k".as("k_a"), $"salt".as("sa")).withColumn("p", peers)
      .repartition(n, $"band_a", $"k_a", $"sa", $"p")
    val hotB = hot.select($"id".as("vb"), $"band".as("band_b"),
      $"k".as("k_b"), $"salt".as("sb")).withColumn("q", peers)
      .repartition(n, $"band_b", $"k_b", $"q", $"sb")
    val hotPairs = hotA.join(hotB,
      $"band_a" === $"band_b" && $"k_a" === $"k_b" &&
        $"sa" === $"q" && $"p" === $"sb")
      .where($"va" < $"vb")
    val all = coldPairs.select($"va", $"vb")
      .union(hotPairs.select($"va", $"vb"))
    (finish(all), () => { sized.unpersist(); () })
  }
}
