"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, output directory): the same
seed writes byte-identical files, a different seed different ones. The
program under test only ever sees the files written here.

* ``pipeline``: a Kaggle-schema ``MRegularSeasonCompactResults.csv``.
* ``query_mix``: the TPC-H-ish star schema plus ``events`` with the types
  and value domains of the repository's sf0.1 test tables (uniform,
  independent columns, as there) at sf0.01 row counts; and ``documents``
  and ``embeddings`` in the sf0.1 schema and value domains (30-word
  vocabulary, same ``lang``/``source`` values, ~5% near-duplicates made by
  appending " dup" to an earlier document, 64-d unit vectors with 10
  labels), a little larger than sf0.1.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pipeline shape: seasons x games per season. Sized so a run fits the
# benchmark's time budget (about 10 s per warm PipelineRunner.run on 4
# cores), with the backtest bounded to the last BACKTEST_FOLDS seasons so
# the ETL stages keep a visible share of the run beside the MLlib fits.
FIRST_SEASON = 2011
SEASONS = 3
GAMES_PER_SEASON = 1000
TEAMS = 120
BACKTEST_FOLDS = 1

# star-schema row counts = the repository's sf0.01 tables. Latency on
# this path is per-query overhead: at sf0.1 row counts the same queries
# took only 1.3-2.5x longer, and one pass would no longer fit a run.
REL_ROWS = {"customer": 1500, "supplier": 100, "part": 2000,
            "orders": 15000, "lineitem": 60000, "events": 10000}
# corpus sizes: sf0.1 has 5000 documents and 2000 embeddings
CORPUS_DOCS = 6000
CORPUS_VECS = 4000
DUP_SHARE = 0.05

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _rng(seed, salt):
    # one independent stream per table, so adding a column to one table
    # never shifts the values of another
    digest = hashlib.sha256(f"{seed}:{salt}".encode()).digest()
    return np.random.Generator(np.random.PCG64(int.from_bytes(digest[:8], "little")))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist(),
                    type=pa.string())


def relational(seed, out):
    os.makedirs(out, exist_ok=True)
    n = REL_ROWS
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")
    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _choice(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"])}),
        f"{out}/customer.parquet")
    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"])}),
        f"{out}/supplier.parquet")
    r = _rng(seed, "part")
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n["part"])
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": _choice(r, [f"{a} {b}" for a in adjs for b in nouns], n["part"]),
        "p_brand": _choice(r, [f"Brand#{i}" for i in range(1, 26)], n["part"]),
        "p_type": _choice(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n["part"]),
        "p_size": pa.array(r.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}),
        f"{out}/part.parquet")
    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": _choice(r, ["F", "O", "P"], n["orders"]),
        "o_totalprice": _money(r, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(_days(r, "1995-01-01", 2405, n["orders"]), pa.timestamp("us")),
        "o_orderpriority": _choice(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n["orders"])}),
        f"{out}/orders.parquet")
    r = _rng(seed, "lineitem")
    m = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, m), pa.int32()),
        "l_quantity": r.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, m),
        "l_discount": r.integers(0, 11, m) / 100.0,
        "l_tax": r.integers(0, 9, m) / 100.0,
        "l_returnflag": _choice(r, ["A", "N", "R"], m),
        "l_linestatus": _choice(r, ["F", "O"], m),
        "l_shipdate": pa.array(_days(r, "1995-01-02", 2499, m), pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")
    r = _rng(seed, "events")
    e = n["events"]
    offsets_us = np.sort(r.integers(0, 30 * 86400 * 10**6, e))
    _write(pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offsets_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, e), pa.int64()),
        "event_type": _choice(r, ["click", "error", "purchase", "signup", "view"], e),
        "value": np.round(r.exponential(50.0, e), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, e)], pa.string())}),
        f"{out}/events.parquet")


def corpus(seed, out):
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, "documents")
    n = CORPUS_DOCS
    lengths = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts, pos = [], 0
    is_dup = r.random(n) < DUP_SHARE
    for i in range(n):
        if is_dup[i] and i > 0:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[words[pos:pos + lengths[i]]]))
        pos += lengths[i]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(r, LANGS, n, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    r = _rng(seed, "embeddings")
    v = CORPUS_VECS
    labels = r.integers(0, 10, v)
    centroids = r.normal(0.0, 0.07 / 8.0, (10, 64))
    x = centroids[labels] + r.normal(0.0, 1.0 / 8.0, (v, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def pipeline_games(seed):
    """(season, day, wteam, wscore, lteam, lscore, wloc, numot) rows."""
    r = _rng(seed, "games")
    rows = []
    for s in range(SEASONS):
        strength = r.normal(0.0, 1.0, TEAMS)
        a = r.integers(0, TEAMS, GAMES_PER_SEASON)
        b = (a + r.integers(1, TEAMS, GAMES_PER_SEASON)) % TEAMS
        day = r.integers(1, 133, GAMES_PER_SEASON)
        loc = r.integers(0, 3, GAMES_PER_SEASON)  # 0: a home, 1: b home, 2: neutral
        edge = strength[a] - strength[b] + np.where(loc == 0, 0.3, np.where(loc == 1, -0.3, 0.0))
        a_wins = r.random(GAMES_PER_SEASON) < 1.0 / (1.0 + np.exp(-edge))
        wscore = r.integers(55, 95, GAMES_PER_SEASON)
        margin = 1 + r.geometric(0.12, GAMES_PER_SEASON)
        numot = (r.random(GAMES_PER_SEASON) < 0.05).astype(int)
        for g in range(GAMES_PER_SEASON):
            w, l = (a[g], b[g]) if a_wins[g] else (b[g], a[g])
            home = a[g] if loc[g] == 0 else b[g] if loc[g] == 1 else -1
            wloc = "N" if home < 0 else ("H" if home == w else "A")
            rows.append((FIRST_SEASON + s, int(day[g]), 1101 + int(w), int(wscore[g]),
                         1101 + int(l), int(max(wscore[g] - margin[g], 20)), wloc, int(numot[g])))
    return rows


def pipeline(seed, out):
    os.makedirs(out, exist_ok=True)
    lines = ["Season,DayNum,WTeamID,WScore,LTeamID,LScore,WLoc,NumOT"]
    lines += [",".join(map(str, row)) for row in pipeline_games(seed)]
    with open(f"{out}/MRegularSeasonCompactResults.csv", "w", newline="\n") as f:
        f.write("\n".join(lines) + "\n")


def query_mix(seed, out):
    relational(seed, out)
    corpus(seed, out)


GENERATORS = {"pipeline": pipeline, "query_mix": query_mix}


def digest(directory):
    """sha256 over (name, bytes) of every file in `directory`, sorted."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(directory)):
        h.update(name.encode() + b"\0")
        with open(os.path.join(directory, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected_pipeline():
    """What one PipelineRunner.run over pipeline(seed) must report."""
    games = SEASONS * GAMES_PER_SEASON
    return {"seasons": SEASONS, "gold_rows": 2 * games,
            "folds": BACKTEST_FOLDS,
            "min_train_season": FIRST_SEASON + SEASONS - BACKTEST_FOLDS}

