"""Seeded input generators for the three workloads.

Every generator is a pure function of (seed, sizes): the same seed writes
byte-identical files, so a pass can replay its inputs exactly and a claim
can be rechecked on a seed nobody tuned against.

- `tables`: the TPC-H-shaped star schema plus events, documents and
  embeddings, with the column types, value domains and key fan-out of the
  repo's sf fixtures (uniform keys, some orders without lines, ~5% planted
  near-duplicate documents, ~1% planted near-identical vectors).
- `elt`: simulated days of the reference's daily run: fetchable pages per
  source (with planted transient and permanent faults), batches for the
  ReplaceAll and upsert sinks, push-inbox payloads, and the keys and counts
  a correct run must land (`expect.json`).
"""
import base64
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = "ECONOMY LARGE MEDIUM PROMO SMALL STANDARD".split()
SEGMENTS = "AUTOMOBILE BUILDING FURNITURE HOUSEHOLD MACHINERY".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = "click error purchase signup view".split()
LANGS = "de en es fr zh".split()


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _text(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def _near_dup(rng, text, subs=3):
    words = text.split(" ")
    for i in rng.choice(len(words), min(subs, len(words)), replace=False):
        words[i] = WORDS[rng.integers(0, len(WORDS))]
    return " ".join(words)


def tables(out, seed, sf):
    """The query workload's tables at scale `sf` (sf0.01 = 60k lineitems)."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(f"{out}/region.parquet", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(f"{out}/customer.parquet", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(f"{out}/part.parquet", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[c]} {NOUNS[n]}" for c, n in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": start + ts.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev),
                            pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(_near_dup(rng, texts[rng.integers(0, i)]))
        else:
            texts.append(_text(rng, int(rng.integers(10, 101))))
    _write(f"{out}/documents.parquet", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.normal(size=(n_emb, 64))
    twins = rng.choice(np.arange(1, n_emb), max(1, n_emb // 100), replace=False)
    for i in twins:
        vecs[i] = vecs[rng.integers(0, i)] + rng.normal(scale=0.02, size=64)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


ELT_START = dt.date(2024, 9, 8)  # day 0 runs on Monday 2024-09-09, in season
# Three daily runs a pass: Monday, Tuesday and the next Monday, whose
# schedule fetch meets an existing games table (a real newRowsOnly).
ELT_DAYS = (0, 1, 7)


def elt(out, seed, day_offsets=ELT_DAYS, n_states=10, zips_per_state=30, n_teams=40,
        games_per_monday=3, n_customers=1000, upserts_per_day=200,
        payloads_per_day=4, hits_per_payload=50, transient=0.05,
        permanent=0.01):
    """Simulated days, `day_offsets` days after ELT_START: the run of a day
    lands that day's data on the morning after (the reference's "yesterday"
    watermark); runs on in-season Mondays fetch the game schedules. `d{d}/` holds the pages a fetcher can
    serve (`pages.jsonl`: key, url, body, fault with 0 = ok, 1 = fails on
    the first attempt only, 2 = fails on every attempt), the ReplaceAll and
    upsert batches, and the push-inbox payloads."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    zips = []
    state_pages = []
    for s in range(n_states):
        zs = [f"{s:02d}{z:03d}" for z in range(zips_per_state)]
        counties = [f"County{rng.integers(0, 500)} County" for _ in zs]
        zips += zs
        body = "<ul>" + "".join(
            f'<li class="zip">{z}</li><li class="county">{c}</li>'
            for z, c in zip(zs, counties)) + "</ul>"
        state_pages.append({"key": f"ST{s:02d}", "url": f"mem://zips/ST{s:02d}",
                            "body": body, "fault": 0})
    teams = [f"team{t:03d}" for t in range(n_teams)]
    games = {t: [] for t in teams}
    next_game = 1_000_000
    balances = {}
    hits_total = 0
    expect_days = []
    for d, off in enumerate(day_offsets):
        day = ELT_START + dt.timedelta(days=off)
        dd = f"{out}/d{d}"
        os.makedirs(f"{dd}/inbox", exist_ok=True)
        pages = [dict(p, kind="zips") for p in state_pages] if d == 0 else []
        perm = 0
        for z in zips:
            u = rng.random()
            fault = 2 if u < permanent else (1 if u < permanent + transient else 0)
            perm += fault == 2
            body = json.dumps({"forecast": {"forecastday": [{
                "date": day.isoformat(),
                "day": {"totalprecip_in": round(float(rng.uniform(0, 3)), 2),
                        "avgtemp_f": round(float(rng.uniform(20, 100)), 1)}}]}})
            pages.append({"kind": "weather", "key": z,
                          "url": f"mem://weather/{z}/{day}", "body": body,
                          "fault": fault})
        if (day + dt.timedelta(days=1)).weekday() == 0:
            for t in teams:
                for _ in range(games_per_monday):
                    games[t].append(next_game)
                    next_game += 1
                body = "".join(f'<a href="https://x/game/_/gameId/{g}">g</a>'
                               for g in games[t])
                pages.append({"kind": "schedule", "key": f"{t}|{day.year}",
                              "url": f"mem://schedule/{t}/{day}", "body": body,
                              "fault": 0})
        with open(f"{dd}/pages.jsonl", "w") as f:
            for p in pages:
                f.write(json.dumps(p) + "\n")
        _write(f"{dd}/standings.parquet", {
            "team": teams,
            "wins": pa.array(rng.integers(0, 20, n_teams), pa.int64()),
            "as_of": pa.array([day] * n_teams, pa.date32())})
        ids = rng.choice(n_customers, upserts_per_day, replace=False)
        cents = rng.integers(0, 10_000_000, upserts_per_day)
        for i, c in zip(ids, cents):
            balances[int(i)] = int(c)
        _write(f"{dd}/customers.parquet", {
            "cust_id": pa.array(ids, pa.int64()),
            "balance_cents": pa.array(cents, pa.int64()),
            "as_of": pa.array([day] * upserts_per_day, pa.date32())})
        for p in range(payloads_per_day):
            rows = [{"ts": f"{day}T{int(rng.integers(0, 24)):02d}:00:00Z",
                     "page": f"/p{int(rng.integers(0, 50))}",
                     "referrer": "", "session_id": f"s{int(rng.integers(0, 10**6))}",
                     "user_agent": "ua", "ip": "10.0.0.1",
                     "country": LANGS[int(rng.integers(0, 5))],
                     "is_bot": bool(rng.random() < 0.1)}
                    for _ in range(hits_per_payload)]
            hits_total += len(rows)
            with open(f"{dd}/inbox/payload{p}.txt", "w") as f:
                f.write(base64.b64encode(json.dumps(rows).encode()).decode() + "\n")
        expect_days.append({
            "date": day.isoformat(),
            "weather_rows": len(zips) - perm,
            "missing_stats": perm,
            "games": sum(len(g) for g in games.values()),
            "customers": len(balances),
            "balance_cents": sum(balances.values()),
            "hits": hits_total,
            "standings": n_teams})
    with open(f"{out}/expect.json", "w") as f:
        json.dump({"zips": len(zips), "days": expect_days}, f)
