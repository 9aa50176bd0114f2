package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Kit
import graft.pipeline.{SinkPolicy, Warehouse}

/** WAREHOUSE-PERSISTED ANN INDEX — the lifecycle form of the IVF-PQ
  * pipeline. [[Pq.ivfpqRerankTopk]] re-derives the index artifacts every
  * run because the oracle must replay the whole computation; production
  * builds them ONCE per corpus and amortizes across every query batch.
  * This component makes that amortization real library surface instead
  * of a harness note: the four build-time artifacts land as
  * versioned warehouse tables and every later operation reads them back —
  * the full-width corpus is touched only by exact re-rank fetches.
  *
  * Stored tables (under `name_ann_*`):
  *   - `meta`      — (key, value): format version, built_n, ks, cbm,
  *                   ivf modulus. 5 rows.
  *   - `codebook`  — (j, qe): the Ks ≈ min(√n, 256) sampled PQ codebook
  *                   vectors, j-ordered. ≤ 257 rows; read back to the
  *                   driver as the plan literal [[Pq]] encodes against
  *                   (the same bounded-collect class as the k-means
  *                   centroid tables).
  *   - `centroids` — (cent_id, ce, cn): the K ≈ √n IVF centroids.
  *                   Broadcast at probe time: √n · 520 B ≈ 164 MB at
  *                   10¹¹ vectors — heavy but broadcastable; past that,
  *                   the two-level quantizer (`semdedup_twolevel`,
  *                   STRESS_r09 §5) is the documented capacity escape.
  *   - `entries`   — (vec_id, cell, codes): one row per indexed vector —
  *                   the 4-byte PQ code and the IVF cell. THE index
  *                   payload: ~16 B/row of information vs 520 B of
  *                   vector, the 88 MB-vs-1.1 GB residency gap measured
  *                   at 2M vectors (STRESS_r09 §6), ~1.6 TB at 10¹¹.
  *
  * A query ([[topk]]) reads `entries` — never the corpus — for
  * candidate generation and ADC shortlisting; the corpus frame the
  * caller passes is hit only by the ≤ shortlist-width equi-join fetch
  * for exact re-rank.
  *
  * Every index parameter is an adaptive formula of n — Ks(n), cbm(n),
  * ivf modulus ⌈√n⌉ — evaluated at build time and recorded as
  * `built_n`: a store whose [[builtN]] is not the corpus size (or whose
  * format is older) is rebuilt by [[build]] under the current formulas
  * (an Overwrite commit — readers on the old version keep their
  * snapshot, the manifest swap is atomic).
  *
  * Reference anchor: the reference stores derived per-source staging
  * tables once and reuses them across pipeline runs
  * (`datasources.py:480` fulltable staging); this is the analogous
  * derived-artifact store for the embedding family.
  */
final case class AnnIndex(wh: Warehouse, name: String) {

  private val spark: SparkSession = wh.spark
  import spark.implicits._

  /** Bumped whenever the stored layout or the encode arithmetic
    * changes — a stale store from an older format is rebuilt, not
    * misread. */
  val Format = "1"

  import AnnIndex.Meta

  private def tMeta = s"${name}_ann_meta"
  private def tCodebook = s"${name}_ann_codebook"
  private def tCentroids = s"${name}_ann_centroids"
  private def tEntries = s"${name}_ann_entries"

  /** The built corpus size, if a current-format index exists. */
  def builtN: Option[Long] =
    if (wh.currentFiles(tMeta).isEmpty) None
    else {
      val kv = wh.read(tMeta).as[(String, String)].collect().toMap
      if (kv.get("format").contains(Format)) kv.get("built_n").map(_.toLong)
      else None
    }

  /** Build (or rebuild) every artifact from a quantized corpus frame
    * ((vec_id, qe, nrm) — [[Similarity.quantized]]'s shape). One corpus
    * pass for codes (pure projection against the codebook literal), one
    * n·K assignment pass (CosTopK fold under a centroid broadcast);
    * both land in a single `entries` table. Overwrite policy: rebuilds
    * swap atomically.
    *
    * Cell-count choice, deliberately NOT the (n/2)^(2/3) two-level
    * lattice (examined and declined with the cost model): this index's
    * per-batch cost is batch·K assignment dots + batch·(n/K) candidate
    * probes, minimized at K = √n, BECAUSE its assignment against the
    * id-modulus centroids is flat. The finer lattice only wins where a
    * coarse/fine factorization makes assignment n·2√K — the Lloyd-
    * trained two-level semdedup path. Moving this
    * store to K = n^(2/3) without first factorizing its probe would
    * make every batch's assignment term n^(2/3) > √n — strictly worse
    * at every decade measured. */
  def build(corpus: DataFrame): Meta = {
    val n = corpus.count()
    val cbm = Pq.pqCbm(n)
    val m = Similarity.ivfModulus(n)
    val cb = Pq.sampledCodebook(corpus, cbm)
    val cents = corpus
      .select($"vec_id".as("cent_id"), $"qe".as("ce"), $"nrm".as("cn"))
      .where($"cent_id" % m === 0)
    val assign = Similarity.probeCells(
        Similarity.boundedGroups(corpus, n), cents, 1)
      .select($"qid".as("vec_id"), $"cell")
    // PHASE-DECOMPOSED (round-10, found at the 4M-vector decade): one
    // job running the n·√n assignment aggregation AND the assign⋈encode
    // sort-merge concurrently exhausted the default 8 GiB heap at
    // local[32] (0.25 GB per concurrent task — 12 GiB completed, so a
    // margin, not a leak; STRESS_r10 §6). Land the 12 B/row assignment
    // first — its own job, peak = the aggregation alone — then join the
    // stored narrow table to the encode projection in a second job
    // whose peak is two narrow sorts. Same rows, same index; the
    // staging table is dropped once entries commit. Scales: nothing
    // here is a literal or a broadcast of O(n).
    val tAssignTmp = s"${name}_build_assign"
    wh.load(tAssignTmp, assign, SinkPolicy.Overwrite)
    val entries =
      wh.read(tAssignTmp).join(Pq.encode(corpus, cb), Seq("vec_id"))
    wh.load(tEntries, entries, SinkPolicy.Overwrite)
    locally {
      val dir = java.nio.file.Paths.get(wh.root, tAssignTmp)
      if (java.nio.file.Files.exists(dir)) {
        java.nio.file.Files.walk(dir)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      }
    }
    wh.load(tCentroids, cents, SinkPolicy.Overwrite)
    wh.load(tCodebook,
      cb.zipWithIndex.map { case (v, j) => (j.toLong, v) }.toDF("j", "qe"),
      SinkPolicy.Overwrite)
    wh.load(tMeta, Seq(
      "format" -> Format,
      "built_n" -> n.toString,
      "ks" -> Pq.pqKs(n).toString,
      "cbm" -> cbm.toString,
      "ivf_modulus" -> m.toString).toDF("key", "value"), SinkPolicy.Overwrite)
    Meta(n, Pq.pqKs(n), cbm, m)
  }

  /** The stored codebook as the driver-side literal [[Pq.encode]] /
    * [[Pq.luts]] fold against (≤ 257 rows — bounded collect). */
  private def codebook(): Seq[Seq[Long]] =
    wh.read(tCodebook).orderBy("j").select("qe").as[Seq[Long]].collect().toSeq

  private def centroids: DataFrame = wh.read(tCentroids)
  private def entries: DataFrame = wh.read(tEntries)

  /** Top-`k` neighbours for `queries` against the STORED index — probe
    * (stored centroids, broadcast) → ADC shortlist (stored codes,
    * equi-joins) → exact re-rank (`corpus` hit only by the shortlist
    * fetch). Row-for-row identical to the fresh [[Pq]] pipeline when the
    * index is current (AnnIndexSpec pins the equality; the registered
    * `ann_index_topk` pins it against the DuckDB oracle). */
  def topk(queries: DataFrame, corpus: DataFrame, k: Int = 5,
           shortlist: Int = 20): DataFrame = {
    val cb = codebook()
    val probes = Similarity.probeCells(queries, centroids, 2)
    // codes ride the cell join (the entries table stores them beside
    // the assignment), so the candidate stream reaches the shortlist
    // already coded — see adcShortlistCoded's round-11 redesign note
    val cand = probes
      .join(entries.select($"vec_id", $"cell", $"codes"), Seq("cell"))
      .where($"vec_id" =!= $"qid")
      .select($"qid", $"vec_id".as("cid"), $"codes")
    val short = Pq.adcShortlistCoded(cand, queries, cb, shortlist)
    Similarity.scoreCandidates(short, corpus, queries, k)
  }
}

object AnnIndex {

  /** FNV-1a 64-bit over a string — the tmp-warehouse path key (64-bit:
    * collisions across a handful of fixture dirs are not a practical
    * concern, unlike String.hashCode's 32). */
  private[graft] def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Size ⊕ mtime fold over one of the fixture's parquet tables — a
    * cheap driver-side content stamp for the build-on-first-use tmp
    * warehouses (metadata-only: no data read). Shared with
    * [[graft.streaming.TextGate]]'s registered gate query (documents
    * table there, embeddings here). */
  private[graft] def fixtureFingerprint(dir: String,
      table: String = "embeddings.parquet"): Long = {
    val p = java.nio.file.Paths.get(dir, table)
    if (!java.nio.file.Files.exists(p)) return 0L
    val st = java.nio.file.Files.walk(p)
    try st.filter(java.nio.file.Files.isRegularFile(_))
      .sorted()
      .mapToLong(f => java.nio.file.Files.size(f) * 31L +
        java.nio.file.Files.getLastModifiedTime(f).toMillis)
      .reduce(17L, (a, b) => a * 1000003L + b)
    finally st.close()
  }

  final case class Meta(builtN: Long, ks: Int, cbm: Long, ivfModulus: Long)

  /** The stored-index query path as a REGISTERED, ORACLE-CHECKED query:
    * on first use per fixture dir the index is built into a tmp
    * warehouse (same build-on-first-use convention as
    * `flagship_bucketed` — the bench's median-of-3 therefore times the
    * amortized stored-query path, which is the production claim); every
    * run after reads only the stored artifacts. The oracle IS
    * [[Pq.ivfpqRerankTopk]]'s (shared by reference, not copied): the
    * whole contract is "same rows as the fresh pipeline, from the
    * store". A stale or differently-sized store (format bump, changed
    * fixture) rebuilds itself. */
  val annIndexTopk: QueryDef = QueryDef(
    "ann_index_topk",
    (s: SparkSession, dir: String) => {
      import s.implicits._
      // the tmp-warehouse key: the fixture dir's last segment
      // (debuggability) + 48 bits of FNV-1a over the FULL PATH folded
      // with a size/mtime fingerprint of the embeddings parquet files —
      // so distinct fixture dirs never practically collide (unlike the
      // 32-bit hashCode this replaced, round-9 ADVICE) and a
      // re-generated fixture with an unchanged row count rebuilds
      // instead of silently serving a stale index. Kept SHORT
      // deliberately: a long warehouse path pushes the table-name
      // suffix past the plan text's 100-char location truncation and
      // breaks PlanShapeSpec's stored-artifact pins
      val key = fnv64(dir) * 31 + fixtureFingerprint(dir)
      val tag = java.nio.file.Paths.get(dir).getFileName.toString
        .replaceAll("[^A-Za-z0-9._-]", "-") + "-" +
        java.lang.Long.toHexString(key >>> 16)
      val wh = Warehouse(s,
        s"${System.getProperty("java.io.tmpdir")}/graft-ai-$tag")
      val idx = AnnIndex(wh, "emb")
      val base = Similarity.quantized(s, dir)
      val n = base.count()
      if (!idx.builtN.contains(n)) idx.build(base)
      idx.topk(base.where($"vec_id" % 25 === 0), base, k = 5)
        .select($"qid", $"cid", Kit.quantize($"cos", 6).as("cos_q6"))
    },
    Pq.ivfpqRerankTopk.oracle)

  val all: Seq[QueryDef] = Seq(annIndexTopk)
}
