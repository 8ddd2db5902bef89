"""Seeded input generator for the end-to-end benchmark.

Every input is a pure function of (workload, seed): the same seed gives
byte-identical files. Inputs are built outside the timed region, under
the benchmark's own work area, and cached per (workload, seed).

Layouts (one directory per workload and seed):

- `calib/`: the parquet tables the calibration query (`q2`, the
  `SparkEntry.entry` query) reads, at the entry smoke's size.
- lifecycle_feed: `batch-NNN/` scrape batches. Each batch holds tagged
  copies of the committed reference fixtures (raw BRef tables, props
  page text, insight cards, the HTML team page) plus a 5 x 4 x 30 DvP
  grid whose team spellings are seeded variants of the golden ones.
  `expect.json` carries the expected outputs, derived from the
  committed `*_golden.jsonl` files through the same tags.
- lifecycle_feed: those batches, plus the `events` / `customer` /
  `orders` tables and a small corpus (below) that the warehouse commit
  ladders and change-feed consumers read.
- curation_corpus: `documents.parquet` / `embeddings.parquet`: a
  seeded base corpus enlarged by word-tagged copies (the
  `EnlargeTestdata` model), with a seeded share of injected exact and
  near duplicates.
"""
import hashlib
import json
import os
import random
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURES = os.path.join("src", "test", "resources", "fixtures")

WORDS = ("key agg row scan slow fast table value part hash the a line sort "
         "window merge batch spark order data column join small customer "
         "query big filter group vector stream").split()
LANGS = ["en"] * 3 + ["zh", "es", "de", "fr"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
POSITIONS = ["PG", "SG", "SF", "PF", "C"]
TIMEFRAMES = ["2025-26", "Last 7", "Last 15", "Last 30"]
TS0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z

# Sizes. One cold run of each workload must stay well under a minute,
# so these are far below the reference's full-season volume; see
# METRICS.md.
SEASON_BATCHES = 3
ROSTER_COPIES = 4
PROPS_COPIES = 4
CARD_COPIES = 8
HTML_COPIES = 2
FEED_CORPUS = (150, 4)  # (base documents, tagged copies)
CURATION_CORPUS = (150, 40)
CORPUS_DUP_SHARE = 0.05
CORPUS_NEAR_SHARE = 0.05
WAREHOUSE_SCALE = 0.2  # x sf0.01 row counts


def _fixture(name):
    with open(os.path.join(FIXTURES, name), encoding="utf-8") as f:
        return f.read()


def _jsonl(name):
    return [json.loads(l) for l in _fixture(name).splitlines() if l.strip()]


def _write_parquet(tbl, path):
    pq.write_table(tbl, path, row_group_size=1 << 20)


def _tables(rng, out, scale, names):
    """TPC-H-ish star tables plus `events`, with the testdata schemas
    (FIXTURES.md section 1), row counts = sf0.01 x `scale`."""
    n = lambda base: max(5, int(base * scale))
    n_cust, n_ord, n_li = n(1500), n(15000), n(60000)
    n_ev, n_users = n(10000), n(150)
    made = {}
    if "region" in names:
        made["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in names:
        made["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    if "customer" in names:
        made["customer"] = pa.table({
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    if "orders" in names:
        made["orders"] = pa.table({
            "o_orderkey": pa.array(range(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(rng.uniform(100, 400000, n_ord), 2),
            "o_orderdate": pa.array(
                TS0_US + rng.integers(0, 365 * 86400, n_ord) * 1_000_000,
                pa.timestamp("us")),
            "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                 "5-LOW")[i] for i in rng.integers(0, 5, n_ord)]})
    if "lineitem" in names:
        made["lineitem"] = pa.table({
            "l_orderkey": pa.array(np.sort(rng.integers(0, n_ord, n_li)), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                TS0_US + rng.integers(0, 365 * 86400, n_li) * 1_000_000,
                pa.timestamp("us"))})
    if "events" in names:
        ts = np.sort(TS0_US + rng.integers(0, 30 * 86400 * 1_000_000, n_ev))
        made["events"] = pa.table({
            "event_id": pa.array(range(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": np.round(rng.uniform(0, 100, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    for t, tbl in made.items():
        _write_parquet(tbl, os.path.join(out, f"{t}.parquet"))


def _doc_texts(rng, n):
    lens = rng.integers(8, 90, n)
    return [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]


def _documents(rng, ids, texts):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), len(ids))],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def gen_corpus(rng, out, size):
    """Base corpus -> word-tagged copies (ids + i*1M) -> injected exact
    and near duplicates (ids from 900M) of seeded earlier documents."""
    base_docs, copies = size
    base = _doc_texts(rng, base_docs)
    ids, texts = [], []
    for c in range(copies):
        for j, t in enumerate(base):
            ids.append(c * 1_000_000 + j)
            texts.append(t if c == 0 else " ".join(f"c{c}{w}" for w in t.split()))
    n = len(texts)
    n_dup, n_near = int(n * CORPUS_DUP_SHARE), int(n * CORPUS_NEAR_SHARE)
    for k, src in enumerate(rng.integers(0, n, n_dup + n_near)):
        words = texts[src].split()
        if k >= n_dup:
            pos = int(rng.integers(0, len(words)))
            words[pos] = WORDS[int(rng.integers(0, len(WORDS)))]
        ids.append(900_000_000 + k)
        texts.append(" ".join(words))
    _write_parquet(_documents(rng, ids, texts),
                   os.path.join(out, "documents.parquet"))
    # embeddings: seeded label centroids + noise, rotated per tagged copy
    dim, per = 64, len(ids)
    cent = rng.normal(0, 0.3, (10, dim))
    labels = rng.integers(0, 10, per)
    vecs = (cent[labels] + rng.normal(0, 0.1, (per, dim))).astype(np.float32)
    for i, vid in enumerate(ids):
        r = (vid // 1_000_000) % 64 if vid < 900_000_000 else 0
        if r:
            vecs[i] = np.roll(vecs[i], -r)
    _write_parquet(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(out, "embeddings.parquet"))


def _spelling(rnd, raw):
    """A seeded spelling of a golden `team_raw` that `Teams.normalizeRaw`
    maps back to the same key: case, a trailing (W-L) record, and
    periods inside bare abbreviations."""
    s = raw.rsplit(" (", 1)[0] if raw.endswith(")") else raw
    if len(s) == 3 and rnd.random() < 0.3:
        s = ".".join(s) + "."
    s = rnd.choice([s, s.lower(), s.title()])
    if rnd.random() < 0.5:
        s += f" ({rnd.randint(0, 60)}-{rnd.randint(0, 60)})"
    return s


def gen_lifecycle(rng, seed, out):
    rnd = random.Random(seed)
    raw_rows = _jsonl("raw_table.json")
    dvp_golden = _jsonl("dvp_golden.jsonl")
    props_pages = _jsonl("props_page_text.json")
    props_golden = _jsonl("props_golden.jsonl")
    cards = _jsonl("insight_raw.json")
    cards_golden = _jsonl("insights_golden.jsonl")
    html = _fixture("team_page.html")
    html_golden = _jsonl("html_golden.jsonl")
    # one golden spelling per canonical team; the LA pair shares one
    spell = {}
    for r in dvp_golden:
        spell.setdefault(r["canonical"], r["team_raw"])
    teams = sorted(spell)
    abbrs = sorted({r["team"] for r in raw_rows})
    roster_kept = [r for r in raw_rows if r["table_id"] == "roster"
                   and r["cells"][r["headers"].index("Player")] != "Player"
                   and r["cells"][r["headers"].index("Rk")] != "Rk"]
    for b in range(SEASON_BATCHES):
        d = os.path.join(out, f"batch-{b:03d}")
        os.makedirs(os.path.join(d, "html"))
        expect = {}
        # BRef raw tables: per-copy team tag
        tags = [f"{abbrs[0]}{b:02d}{i:02d}" for i in range(ROSTER_COPIES)]
        with open(os.path.join(d, "raw_table.json"), "w") as f:
            for t in tags:
                for r in raw_rows:
                    f.write(json.dumps(dict(r, team=t)) + "\n")
        expect["roster_rows"] = len(roster_kept) * len(tags)
        expect["roster_teams"] = tags
        # DvP grid: every (position, timeframe) holds all 30 teams in a
        # seeded order; LA Lakers precede LA Clippers (the bare "LOS
        # ANGELES" spelling is resolved by scan order)
        dvp, canon, idx = [], [], 0
        for p in POSITIONS:
            for tf in TIMEFRAMES:
                order = teams[:]
                rnd.shuffle(order)
                li, ci = order.index("LA Lakers"), order.index("LA Clippers")
                if li > ci:
                    order[li], order[ci] = order[ci], order[li]
                for t in order:
                    stats = {k: f"{rnd.uniform(0, 60):.1f}" for k in
                             ("pts", "reb", "ast", "three_pm", "stl", "blk", "to")}
                    dvp.append(dict(position=p, timeframe=tf, row_idx=idx,
                                    team_raw=_spelling(rnd, spell[t]), **stats))
                    canon.append(t)
                    idx += 1
        with open(os.path.join(d, "dvp_raw.json"), "w") as f:
            for r in dvp:
                f.write(json.dumps(r) + "\n")
        expect["dvp_canonical"] = canon
        # props page text: tagged match ids
        exp_props = []
        with open(os.path.join(d, "props_page_text.json"), "w") as f:
            for i in range(PROPS_COPIES):
                for pg in props_pages:
                    mid = f"{pg['match_id']} #{b}-{i}"
                    f.write(json.dumps(dict(pg, match_id=mid)) + "\n")
                    exp_props += [dict(g, match_id=mid) for g in props_golden
                                  if g["match_id"] == pg["match_id"]]
        expect["props"] = exp_props
        # insight cards: offset card_idx (the parsed id does not depend on it)
        exp_cards = []
        with open(os.path.join(d, "insight_raw.json"), "w") as f:
            for i in range(CARD_COPIES):
                for c in cards:
                    k = i * len(cards) + c["card_idx"]
                    f.write(json.dumps(dict(c, card_idx=k)) + "\n")
                    exp_cards += [dict(g, card_idx=k) for g in cards_golden
                                  if g["card_idx"] == c["card_idx"]]
        expect["insights"] = exp_cards
        # HTML team pages: one file per tagged page
        exp_html = []
        for i in range(HTML_COPIES):
            page = f"p{b:02d}{i:02d}"
            with open(os.path.join(d, "html", f"{page}.html"), "w") as f:
                f.write(html)
            exp_html += [dict(g, page=page) for g in html_golden]
        expect["html_cells"] = exp_html
        with open(os.path.join(d, "expect.json"), "w") as f:
            json.dump(expect, f)


with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:10]  # of this generator


def generate(workload, seed, root):
    """Build (or reuse) the inputs of (workload, seed) under `root`;
    return (input dir, manifest)."""
    out = os.path.join(root, f"{workload}-{seed}-{VERSION}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return out, json.load(f)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "calib"))
    digest = int(hashlib.sha256(f"{workload}:{seed}".encode()).hexdigest()[:15], 16)
    rng = np.random.default_rng(digest)
    _tables(rng, os.path.join(tmp, "calib"), 0.1,
            {"region", "nation", "customer", "orders", "lineitem"})
    if workload == "lifecycle_feed":
        gen_lifecycle(rng, digest, tmp)
        gen_corpus(rng, tmp, FEED_CORPUS)
        _tables(rng, tmp, WAREHOUSE_SCALE, {"events", "customer", "orders"})
    elif workload == "curation_corpus":
        gen_corpus(rng, tmp, CURATION_CORPUS)
    else:
        raise ValueError(f"unknown workload {workload}")
    rows = nbytes = 0
    for dirpath, _, files in os.walk(tmp):
        if os.path.relpath(dirpath, tmp).startswith("calib"):
            continue
        for fn in files:
            p = os.path.join(dirpath, fn)
            nbytes += os.path.getsize(p)
            if fn.endswith(".parquet"):
                rows += pq.ParquetFile(p).metadata.num_rows
            elif fn.endswith(".json") and fn != "expect.json":
                with open(p) as f:
                    rows += sum(1 for _ in f)
            elif fn.endswith(".html"):
                rows += 1
    manifest = {"workload": workload, "seed": seed,
                "input_rows": rows, "input_bytes": nbytes}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, out)
    return out, manifest
