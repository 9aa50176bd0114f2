#!/usr/bin/env python3
"""Deterministic 10x stress fixture for the dedup/graph/ANN family.

The driver's fixtures stop at sf0.1 (5k documents / 2k embeddings); the
100-TB arguments in SURVEY.md section 8 need at least one measured point
beyond that. This generator synthesizes a documents/embeddings pair that
is FACTOR times sf0.1 with the same statistical shape:

- vocabulary: the sf0.1 words plus enough synthetic tokens to keep the
  SHINGLE DOCUMENT FREQUENCY invariant as the corpus grows — possible
  3-gram shingles must scale with corpus shingles (vocab ~ cbrt(factor)
  growth), or every shingle saturates the exact family's DF_CAP and
  its recall collapses to zero (measured on the first cut of this
  generator: 1.13M candidates at sf0.1, zero at a 10x corpus reusing
  the 31-word base vocab)
- doc lengths drawn from the empirical sf0.1 length distribution; per-
  language/source mix sampled from the fixture
- ~5% of docs are planted near-duplicates of an earlier doc (3 word
  substitutions) so detector recall/candidate volume stays comparable
- embeddings match the measured base-fixture geometry: RANDOM unit
  vectors (pairwise cos ~ N(0, 1/sqrt(64)); the fixture's labels carry
  no geometry — cos-to-center ~ 1/sqrt(n), the random-subset-mean
  artifact) with random labels, plus ~1% planted near-identical pairs
  so embedding_neardup has true positives above the chance tail

Everything is seeded; two runs produce byte-identical parquet. Usage:

    python3 scripts/gen_stress.py /root/testdata/sf0.1 /tmp/sf1_stress 10 [hot_frac]

The optional hot_frac (default 0, which reproduces the round-5 fixture
byte-identically) plants an LSH HOT BUCKET: that fraction of vectors get
positive signs on dims 0..15 and 16,24,..,56 — the dims ann_lsh_topk's
8-bit bucket and embedding_neardup_strict's band 0 read — so they all
collide in one bucket while staying pairwise-random (cos ~ 0.3-0.6, far
below the 0.90 verify threshold). This is the adversarial skew fixture:
candidate volume in the hot bucket is (hot_frac*n)^2/2 regardless of true
duplicate density, and the question measured in STRESS_r06.md is whether
the band self-join's skewed shuffle partition is split by AQE rather than
serializing one straggler task.
"""
import sys
import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

def main():
    base, out, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    hot_frac = float(sys.argv[4]) if len(sys.argv) > 4 else 0.0
    rng = np.random.default_rng(20260813)
    con = duckdb.connect()

    docs = con.execute(
        f"SELECT doc_id, text, lang, source FROM read_parquet('{base}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    vocab = sorted({w for _, t, _, _ in docs for w in t.split(" ")})
    # grow the vocabulary with cbrt(factor): possible shingles (vocab^3)
    # then scale ~linearly with corpus shingles, keeping per-shingle df —
    # and with it the exact family's rare/hot split — comparable
    target_vocab = int(round(len(vocab) * factor ** (1 / 3)))
    vocab = vocab + [f"w{i:03d}" for i in range(target_vocab - len(vocab))]
    lengths = np.array([len(t.split(" ")) for _, t, _, _ in docs])
    langs = [l for _, _, l, _ in docs]
    sources = [s for _, _, _, s in docs]

    n_docs = len(docs) * factor
    out_rows = []
    texts = []
    doc_plants = []  # (copy doc_id, source doc_id) — recall denominators
    for i in range(n_docs):
        if i >= 100 and rng.random() < 0.05:
            # planted near-dup: mutate an earlier stress doc (3 word swaps)
            src = int(rng.integers(0, i))
            doc_plants.append((i, src))
            words = texts[src].split(" ")
            for _ in range(3):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            text = " ".join(words)
        else:
            ln = int(lengths[int(rng.integers(0, len(lengths)))])
            text = " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), ln))
        texts.append(text)
        out_rows.append((i, text,
                         langs[int(rng.integers(0, len(langs)))],
                         sources[int(rng.integers(0, len(sources)))],
                         len(text)))
    import os
    os.makedirs(out, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array([r[0] for r in out_rows], pa.int64()),
        "text": pa.array([r[1] for r in out_rows], pa.string()),
        "lang": pa.array([r[2] for r in out_rows], pa.string()),
        "source": pa.array([r[3] for r in out_rows], pa.string()),
        "n_chars": pa.array([r[4] for r in out_rows], pa.int64()),
    }), f"{out}/documents.parquet")

    n_vec = con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{base}/embeddings.parquet')"
    ).fetchone()[0] * factor
    dim, k = 64, 10
    labels = rng.integers(0, k, n_vec)
    vecs = rng.normal(0, 1.0, (n_vec, dim)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # ~1% planted near-identical pairs (sigma 0.02 -> cos ~ 0.987, the
    # re-encoded/rescaled-copy regime): true positives for the near-dup
    # detectors above the random-tail chance pairs, inside the strict
    # variant's high-recall zone
    n_plant = n_vec // 100
    dup_idx = rng.choice(np.arange(100, n_vec), n_plant, replace=False)
    dup_set = set(int(x) for x in dup_idx)
    # sources come from the non-planted complement: a source that is
    # later overwritten as someone else's near-copy would silently
    # destroy its pair and skew the planted-density denominator
    clean = np.array([x for x in range(n_vec) if x not in dup_set])
    vec_plants = []  # (copy vec_id, source vec_id)
    for i in dup_idx:
        j = int(clean[int(rng.integers(0, len(clean)))])
        vec_plants.append((int(i), j))
        v = vecs[j] + rng.normal(0, 0.02, dim).astype(np.float32)
        vecs[i] = v / np.linalg.norm(v)
    if hot_frac > 0:
        # hot-bucket planting AFTER dup planting (sign-flips would break
        # a planted pair's cos ~ 0.987); abs() preserves unit norm. Dims:
        # ann_lsh_topk buckets on signs of 0,8,..,56; strict's band 0 is
        # dims 0..15 — force both so one fixture stresses both queries.
        hot_dims = sorted(set(range(16)) | {8 * j for j in range(8)})
        hot_idx = rng.choice(n_vec, int(n_vec * hot_frac), replace=False)
        for i in hot_idx:
            vecs[i, hot_dims] = np.abs(vecs[i, hot_dims])
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    }), f"{out}/embeddings.parquet")
    # ground-truth planted pairs (round 9): written AFTER all rng draws,
    # so documents/embeddings stay byte-identical to every prior round's
    # fixtures; recall measurements (STRESS_r09 §6) read these instead
    # of re-deriving plants from thresholds
    pq.write_table(pa.table({
        "copy_id": pa.array([a for a, _ in vec_plants], pa.int64()),
        "src_id": pa.array([b for _, b in vec_plants], pa.int64()),
    }), f"{out}/vec_plants.parquet")
    pq.write_table(pa.table({
        "copy_id": pa.array([a for a, _ in doc_plants], pa.int64()),
        "src_id": pa.array([b for _, b in doc_plants], pa.int64()),
    }), f"{out}/doc_plants.parquet")
    print(f"wrote {n_docs} documents, {n_vec} embeddings, "
          f"{len(vec_plants)}+{len(doc_plants)} plant pairs to {out}")

if __name__ == "__main__":
    main()
