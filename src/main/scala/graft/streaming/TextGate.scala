package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ops.{StageLevels, TextOps}
import graft.pipeline.{SinkPolicy, Warehouse}

/** TEXT NEAR-DUP AT THE DOOR — verdict-before-land for DOCUMENT
  * payloads (round-9 verdict #5): every arriving micro-batch of
  * (doc_id, text) rows is verdicted against the landed corpus BEFORE it
  * lands, via the MinHash band family (`TextOps.minhashBands` /
  * `incrementalNeardup`'s batch-vs-corpus shape) over a PERSISTED band
  * stage table — the signature work for the corpus is paid once at its
  * own landing, never recomputed per batch, so a batch's verdict cost
  * is ∝ batch (its own shingling + banding) + candidates (the band
  * collisions), never ∝ corpus.
  *
  * Three tables move per micro-batch, each append tagged with the same
  * txn, the STAGE landing LAST as the replay guard: a batch whose stage
  * rows are in is fully landed, and any earlier step a crash left
  * behind replays as a txn-skipped no-op:
  *
  *   - `name_verdicts` (doc_id, n_dup_matches, dup_of, is_new) — the
  *     `incremental_neardup` row shape; dup_of = MIN matching doc_id;
  *   - `name_bands` (doc_id, band, k) — accepted docs' LSH bucket keys,
  *     the index later batches probe;
  *   - `name_stage` (doc_id, text) — accepted docs, the corpus of
  *     record and the authority the verify stage fetches candidate
  *     texts from.
  *
  * Replay windows (each step idempotent, spec-driven):
  *
  *   - verdicts landed, crash before bands/stage: replay recomputes
  *     identical verdicts (band/stage state unchanged), txn-skips the
  *     verdict append, lands the rest;
  *   - verdicts + bands landed, crash before stage: the batch's OWN
  *     stranded bands are invisible to its replay — the corpus band
  *     side anti-joins the batch's doc_ids out (so intra-batch pairs
  *     are judged ONLY by the deterministic lower-id-wins rule, never
  *     against their own half-landed store), and verify fetches texts
  *     from the STAGE, which never saw the batch;
  *   - stage landed, checkpoint behind: consume-and-skip.
  *
  * A candidate whose bands are stored but whose stage row is missing
  * (some OTHER batch's crash window) verifies against nothing and is
  * ignored — safe because foreachBatch serializes: that batch replays
  * (and lands its stage rows) before any later batch runs. Exact
  * Jaccard over full shingle sets verifies every reported pair, so
  * banding bounds recall only, exactly as in the batch family.
  *
  * doc_ids must be globally unique across all drops: a replayed
  * batch's ids then never collide with another batch's landed rows. No
  * bootstrap special case:
  * an empty band store simply yields no corpus candidates, and
  * intra-batch duplicates are caught from the first drop.
  *
  * THE PROBE IS BUCKET-PRUNED (round-10: the §4 scale note's "band-store
  * scan breaks ∝-batch at 10¹¹ docs" term, closed). Every stored band
  * row carries `bkt = pmod(xxhash64(band, k), bandBuckets)`, declared as
  * the table's zone-map column, and appends land range-clustered on it
  * so each file covers a narrow bkt span. A batch probes with its OWN
  * distinct bkt values (≤ 8·|batch|, ∝ batch by construction — the only
  * driver-side state the probe needs) through `Warehouse.readInSet`,
  * which opens only the files whose [min, max] can contain a probed
  * bucket. Against a compacted store (see [[compactBands]] — store
  * maintenance runs out of band, never inside a verdict) the
  * corpus side of the band join reads O(|batch| / bandBuckets · corpus)
  * bytes instead of the table: the store behaves as a disk-backed hash
  * index whose lookup cost follows the BATCH. Pruning is a superset
  * optimization — the (band, k) equi-join downstream is the exact
  * residual, so verdicts are bit-identical to a full scan (spec-pinned
  * against a bandBuckets=1 gate, whose single bucket disables pruning).
  *
  * Reference anchor: the delta-landing contract the reference applies
  * to scraped rows (`datasources.py:748-756` — land only
  * new-vs-warehouse rows) with near-duplicate (not just key-equal)
  * arrivals caught at the door. */
final case class TextGate(wh: Warehouse, name: String,
                          bandBuckets: Int = 1 << 20,
                          pruneProbe: Boolean = true,
                          autoCompactBar: Option[Double] = Some(4.0)) {

  private val spark = wh.spark
  import spark.implicits._

  def stageTable: String = s"${name}_stage"
  def bandTable: String = s"${name}_bands"
  def verdictTable: String = s"${name}_verdicts"

  /** The band-bucket column: a band row's zone-map key. One function of
    * (band, k) shared by the landing side and the probe side — the two
    * MUST agree or pruning silently drops true candidates. */
  private def bktCol = pmod(xxhash64($"band", $"k"), lit(bandBuckets.toLong))

  /** The distinct band buckets `bands` touches — the probe's driver-side
    * pruning set, bounded by min(8·|batch|, bandBuckets). Exposed to the
    * spec so it can pin file skipping with the gate's own bucket set. */
  private[graft] def batchBuckets(bands: DataFrame): Seq[Long] =
    bands.select(bktCol.as("bkt")).distinct()
      .collect().map(_.getLong(0)).toSeq

  /** The STORED shape of a batch's accepted band rows — bkt attached and
    * range-clustered so each landed file's zone map covers a narrow
    * bucket span (the probe's skipping unit); file count follows the
    * batch so tiny drops stay one file. Factored out so crash-window
    * specs land byte-identical shapes to [[landBatch]]. */
  private[streaming] def storedBandRows(bands: DataFrame,
      acceptedIds: DataFrame, nDocs: Long): DataFrame = {
    val nf = math.max(1L, math.min(16L, nDocs / 50000L)).toInt
    bands.join(acceptedIds, Seq("doc_id"))
      .withColumn("bkt", bktCol)
      .repartitionByRange(nf, $"bkt")
  }

  /** The verdict computation alone (report threshold: exact Jaccard ≥
    * 0.30 over 3-gram shingle sets — the family's shared constant in
    * `TextOps.jaccardVerify`) — exposed so crash-window tests can
    * land a prefix of the batch's tables and then replay. `b`, `sets`,
    * `bands` must all describe the same batch ([[landBatch]] wires
    * them); reads the CURRENT band/stage stores. */
  private[graft] def verdictsFor(b: DataFrame, sets: DataFrame,
                                 bands: DataFrame): DataFrame = {
    val batchIds = b.select($"doc_id")
    // corpus side: stored bands, minus any stranded rows of THIS batch
    // (a bands-landed/stage-missing replay must see the store as the
    // original run did — intra-batch pairs go through the lower-id rule)
    val stored =
      if (wh.currentFiles(bandTable).isEmpty) bands.limit(0)
      // bucket-pruned probe: only files whose bkt range can hold one of
      // the batch's own buckets are opened; the (band, k) join below is
      // the exact residual. Stores landed before the bkt declaration
      // carry no zone map — full scan, same verdicts.
      // pruneProbe=false is the full-scan comparator (and kill switch):
      // same verdicts, every file opened
      else if (pruneProbe && wh.statsColsOf(bandTable).contains("bkt"))
        wh.readInSet(bandTable, "bkt", batchBuckets(bands))
          .select($"doc_id", $"band", $"k")
      else wh.read(bandTable).select($"doc_id", $"band", $"k")
    val corpusBands = stored.join(batchIds, Seq("doc_id"), "left_anti")
    val corpusCand = bands.select($"doc_id".as("doc_a"), $"band", $"k")
      .join(corpusBands.select($"doc_id".as("doc_b"), $"band", $"k"),
        Seq("band", "k"))
    // intra-batch: lower doc_id wins (stays new), higher side verdicts
    val innerCand = bands.select($"doc_id".as("doc_a"), $"band", $"k")
      .join(bands.select($"doc_id".as("doc_b"), $"band", $"k"),
        Seq("band", "k"))
      .where($"doc_b" < $"doc_a")
    val cand = corpusCand.select($"doc_a", $"doc_b")
      .unionByName(innerCand.select($"doc_a", $"doc_b"))
      .distinct()
    // fetch ONLY the candidate corpus docs' texts (cost ∝ candidates);
    // batch-side sets are already at hand
    val corpusDocs =
      (if (wh.currentFiles(stageTable).isEmpty) b.limit(0)
       else wh.read(stageTable))
        .select($"doc_id", $"text")
        .join(cand.select($"doc_b".as("doc_id")).distinct(), Seq("doc_id"))
    val candSets = sets.unionByName(TextOps.shingleSets(corpusDocs))
    val dups = TextOps.jaccardVerify(cand, candSets)
      .groupBy($"doc_a")
      .agg(count(lit(1)).as("n_dup_matches"), min($"doc_b").as("dup_of"))
      .withColumnRenamed("doc_a", "doc_id")
    b.select($"doc_id")
      .join(dups, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_dup_matches", lit(0L)).as("n_dup_matches"),
        $"dup_of", $"dup_of".isNull.as("is_new"))
  }

  /** One logical micro-batch: verdict against the stored bands, record,
    * land accepted docs + their bands, stage last. Exposed publicly so
    * crash replays can be driven deterministically in tests; streaming
    * callers use [[drain]]. */
  def landBatch(batch: DataFrame, txn: String): Unit = {
    if (wh.txnLanded(stageTable, txn)) {
      // landed but checkpoint behind: consume-and-skip (see drainInto)
      batch.foreach(_ => ())
      return
    }
    // Size-aware stage pinning (StageLevels convention): a routine
    // arrival batch pins in memory, but a CORPUS-SIZED landing (the
    // lifecycle seed, a backfill) must flip its stage frames to
    // DISK_ONLY — plain MEMORY_AND_DISK persists hold the unified
    // region's guaranteed storage fraction against the signature
    // aggregation and starve it (UNABLE_TO_ACQUIRE_MEMORY at a 5M-doc
    // seed, found by the round-12 wide-store drain; the r8 §13
    // starvation signature). Sized from the LEAF relations
    // (pinnedForSource) because the gate's (doc_id, text) contract
    // frame under-reports its strings at default width; one level
    // shared by every stage frame of this landing, and the disk regime
    // bounds the columnar cache builder's per-task spike
    // (tuneCacheBatchFor — the fifth-decade OOM discipline).
    val lvl = StageLevels.pinnedForSource(batch)
    StageLevels.tuneCacheBatchFor(spark, lvl)
    val b = batch.persist(lvl)
    try {
      val nDocs = b.count()
      if (nDocs == 0L) return
      // AUTO-COMPACTION AT THE DOOR (round-10 verdict #4, the
      // autoRepairSkew discipline): when append fragmentation has
      // decayed probe pruning past the bar, rewrite the band store
      // bkt-disjoint BEFORE this batch probes it — probe opens stay
      // ≈ bar instead of +1 per batch drained. Safe on the stream path:
      // the rewrite is one atomic manifest commit of the SAME rows
      // (verdicts bit-identical over either layout — pruning is
      // superset-safe, spec-pinned), and a crash after the commit but
      // before the batch lands replays into a store that simply no
      // longer needs maintenance. Cost honesty: the rewrite is
      // O(band store) = O(corpus·8) narrow rows, paid ~once per `bar`
      // batches — the amortized per-batch tax is O(corpus/bar) 20-byte
      // rows of columnar IO, which measured well under one batch's own
      // verdict compute (TextGateScale drain); a deployment that wants
      // strictly ∝-batch walls sets autoCompactBar = None and runs
      // [[compactBands]] from a maintenance job instead.
      autoCompactBar.foreach { bar =>
        if (maintenanceNeeded(bar)) compactBands()
      }
      val sets = TextOps.shingleSets(b).persist(lvl)
      val bands = TextOps.minhashBandsUncached(sets).persist(lvl)
      try {
        val verdicts = verdictsFor(b, sets, bands).persist(lvl)
        try {
          wh.load(verdictTable, verdicts, SinkPolicy.Append, Some(txn))
          val acceptedIds = verdicts.where($"is_new").select($"doc_id")
          wh.load(bandTable, storedBandRows(bands, acceptedIds, nDocs),
            SinkPolicy.Append, Some(txn), statsCols = Seq("bkt"))
          wh.load(stageTable, b.join(acceptedIds, Seq("doc_id")),
            SinkPolicy.Append, Some(txn))
          ()
        } finally { verdicts.unpersist(); () }
      } finally { sets.unpersist(); bands.unpersist(); () }
    } finally { b.unpersist(); () }
  }

  /** OUT-OF-BAND band-store maintenance: rewrite the append-fragmented
    * store into bkt-disjoint files (`Warehouse.compact` range-clusters on
    * the table's lead zone-map column), restoring the probe's skipping
    * ratio after many small appends have left each bucket scattered
    * across per-batch files. Run from a maintenance job between batches,
    * never inside a verdict; readers pinned to the old version are
    * unaffected, and a batch that interleaves sees either
    * snapshot with identical verdicts (pruning is superset-safe over
    * both layouts). */
  def compactBands(targetBytesPerFile: Long = 16L << 20): Unit = {
    wh.compact(bandTable, targetBytesPerFile)
    ()
  }

  /** Expected file opens for ONE probed bucket — Σ(per-file bkt span) /
    * bandBuckets, pure driver-side manifest arithmetic
    * ([[graft.pipeline.Warehouse.fileSpans]]; a file without stats
    * counts as full-span, since pruning never skips it). A compacted
    * store's files are bkt-disjoint, so the sum telescopes to ≈ 1.0;
    * every appended batch re-covers the bucket range once more (its
    * range-clustered files are disjoint WITHIN the batch only), so the
    * metric counts, in effect, the batches landed since the last
    * [[compactBands]] — the per-probe open cost the measured
    * opens ≈ F·(1 − e^(−b/F)) model predicts at b = 1 (STRESS_r10
    * §4.1). */
  def expectedOpensPerBucket: Double =
    if (wh.currentFiles(bandTable).isEmpty) 0.0
    // a store landed before the bkt declaration has no zone map at all —
    // the same legacy case [[verdictsFor]] full-scans; report every file
    // as full-span (opens = file count) instead of letting an ADVISORY
    // maintenance probe throw where the verdict path degrades gracefully
    else if (!wh.statsColsOf(bandTable).contains("bkt"))
      wh.currentFiles(bandTable).size.toDouble
    else wh.fileSpans(bandTable, "bkt").map {
      case Some((mn, mx)) => (mx - mn + 1).toDouble
      case None => bandBuckets.toDouble
    }.sum / bandBuckets

  /** True when append fragmentation has decayed probe pruning enough
    * that a [[compactBands]] should be scheduled. Consulted on the
    * stream path by [[landBatch]] whenever `autoCompactBar` is set
    * (one per-batch manifest-arithmetic probe; compaction fires when it
    * trips — the round-11 self-compacting door); with `autoCompactBar =
    * None` it is advisory-only for an out-of-band maintenance job.
    * Either way fragmentation degrades probe COST (extra file opens),
    * never verdicts (pruning is superset-safe). The default bar
    * tolerates ~4 uncompacted batches — past it each probed bucket pays
    * ~`bar` opens instead of 1. */
  def maintenanceNeeded(bar: Double = 4.0): Boolean =
    expectedOpensPerBucket >= bar

  /** Drain every pending drop through the gate, exactly-once per
    * micro-batch. `stream` carries (doc_id, text); `appId` must be
    * stable across restarts of the same logical pipeline. */
  def drain(stream: DataFrame, checkpointDir: String,
            appId: String): StreamingQuery = {
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        landBatch(batch, s"$appId:$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q
  }
}

object TextGate {
  import graft.ops.{AnnIndex, QueryDef, TextOps}

  /** The door's verdict semantics as a REGISTERED, ORACLE-CHECKED query
    * (round-10 verdict #6): phase 1 lands the non-incoming sources
    * through [[TextGate.landBatch]] into a build-on-first-use tmp
    * warehouse (the `ann_index_topk` stored-artifact convention — every
    * run after the first reads only the persisted band/stage store);
    * phase 2 computes the arrival batch's verdicts through the gate's
    * own bucket-pruned probe against that PERSISTED store, without
    * landing (so bench reps are idempotent). Two semantics the oracle
    * replays that `incremental_neardup` does not have:
    *
    *   - the corpus side is the gate's ACCEPTED set — a corpus doc that
    *     near-dups a lower-id corpus doc was rejected at its own
    *     landing, so arrivals are never verdicted against it (the store
    *     holds survivors only);
    *   - candidate texts come from the stage table the gate maintains,
    *     not the source frame.
    *
    * Same MinHash band family, 3-gram shingles, and exact-Jaccard ≥
    * 0.30 verification as the whole text family — all constants
    * inlined into both engines from TextOps' one list. */
  val gateVerdicts: QueryDef = {
    val inc = TextOps.IncSources.mkString("','")
    QueryDef.sql(
      "textgate_verdicts",
      s"""WITH ${TextOps.mhPairsBaseCteSql},
        |src AS (
        |  SELECT doc_id, source IN ('$inc') AS is_inc FROM documents),
        |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |corpus_cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN src sa ON sa.doc_id = a.doc_id AND NOT sa.is_inc
        |  JOIN bands b ON b.band = a.band AND b.k = a.k
        |    AND b.doc_id < a.doc_id
        |  JOIN src sb ON sb.doc_id = b.doc_id AND NOT sb.is_inc),
        |corpus_dup AS (
        |  SELECT DISTINCT doc_a AS doc_id
        |  FROM (SELECT doc_a, doc_b, COUNT(*) AS n_both
        |        FROM corpus_cand
        |        JOIN sh fa ON fa.doc_id = doc_a
        |        JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
        |        GROUP BY doc_a, doc_b) ci
        |  JOIN sizes sa ON sa.doc_id = ci.doc_a
        |  JOIN sizes sb ON sb.doc_id = ci.doc_b
        |  WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.30),
        |accepted AS (
        |  SELECT s.doc_id FROM src s
        |  WHERE NOT s.is_inc
        |    AND s.doc_id NOT IN (SELECT doc_id FROM corpus_dup)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a
        |  JOIN src sa ON sa.doc_id = a.doc_id AND sa.is_inc
        |  JOIN bands b ON b.band = a.band AND b.k = a.k
        |    AND b.doc_id <> a.doc_id
        |  JOIN src sb ON sb.doc_id = b.doc_id
        |  WHERE (NOT sb.is_inc
        |         AND b.doc_id IN (SELECT doc_id FROM accepted))
        |     OR (sb.is_inc AND b.doc_id < a.doc_id)),
        |ver AS (
        |  SELECT doc_a, doc_b
        |  FROM (SELECT doc_a, doc_b, COUNT(*) AS n_both
        |        FROM cand
        |        JOIN sh fa ON fa.doc_id = doc_a
        |        JOIN sh fb ON fb.doc_id = doc_b AND fb.s = fa.s
        |        GROUP BY doc_a, doc_b) vi
        |  JOIN sizes sa ON sa.doc_id = vi.doc_a
        |  JOIN sizes sb ON sb.doc_id = vi.doc_b
        |  WHERE CAST(n_both AS DOUBLE) / (sa.n + sb.n - n_both) >= 0.30),
        |dups AS (
        |  SELECT doc_a AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup_matches,
        |    MIN(doc_b) AS dup_of
        |  FROM ver GROUP BY doc_a)
        |SELECT d.doc_id,
        |  CAST(COALESCE(n_dup_matches, 0) AS BIGINT) AS n_dup_matches,
        |  dup_of, dup_of IS NULL AS is_new
        |FROM (SELECT doc_id FROM documents WHERE source IN ('$inc')) d
        |LEFT JOIN dups ON dups.doc_id = d.doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val docs = graft.sources.Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", $"text")
      // tmp-warehouse key: same content-stamp convention as
      // ann_index_topk, over the documents table this query reads
      val key = AnnIndex.fnv64(dir) * 31 +
        AnnIndex.fixtureFingerprint(dir, "documents.parquet")
      val tag = java.nio.file.Paths.get(dir).getFileName.toString
        .replaceAll("[^A-Za-z0-9._-]", "-") + "-tg-" +
        java.lang.Long.toHexString(key >>> 16)
      val wh = Warehouse(s,
        s"${System.getProperty("java.io.tmpdir")}/graft-tg-$tag")
      val gate = TextGate(wh, "docs")
      val isInc = $"source".isin(TextOps.IncSources: _*)
      if (!wh.txnLanded(gate.stageTable, "corpus"))
        gate.landBatch(docs.where(!isInc).select($"doc_id", $"text"),
          "corpus")
      val b = docs.where(isInc).select($"doc_id", $"text").persist()
      val sets = TextOps.shingleSets(b).persist()
      val bands = TextOps.minhashBandsUncached(sets).persist()
      gate.verdictsFor(b, sets, bands)
    }
  }

  val all: Seq[QueryDef] = Seq(gateVerdicts)
}
