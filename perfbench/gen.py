"""Seeded input generators for the benchmark.

Two kinds of input:

* the catalog tables (region … embeddings) in the shape of the repository's
  test tables: the same schemas, parquet physical types (snappy, one row
  group, timestamp[us]), key ranges, categorical domains and distributions.
  They are generated from a fixed data seed per scale, so that the pinned
  output fingerprints in ``pinned/`` stay valid; the workload seed picks the
  catalog slice instead;
* the Sentiment140-format CSV of the paper's pipeline (latin-1, headerless,
  six quoted columns) with a seeded, learnable label signal, plus the batches
  of texts the scoring loop sends. These are generated from the workload seed.

The same arguments always give byte-identical files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

GEN_VERSION = "1"
CATALOG_DATA_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
             "filter", "group", "hash", "join", "key", "line", "merge", "order",
             "part", "query", "row", "scan", "slow", "small", "sort", "spark",
             "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _write(table, path):
    pq.write_table(table, path, compression="snappy", version="2.6",
                   row_group_size=max(1, table.num_rows))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def catalog_sizes(scale):
    """Row counts per table at a scale factor (the test tables' sizing)."""
    return {
        "customer": int(round(150_000 * scale)),
        "supplier": int(round(10_000 * scale)),
        "part": int(round(200_000 * scale)),
        "orders": int(round(1_500_000 * scale)),
        "lineitem": int(round(6_000_000 * scale)),
        "events": int(round(1_000_000 * scale)),
        "users": int(round(15_000 * scale)),
        "documents": max(500, int(round(50_000 * scale))),
        "embeddings": max(500, int(round(20_000 * scale))),
    }


def catalog_tables(scale, seed=CATALOG_DATA_SEED):
    """Yield (name, pyarrow.Table) for every catalog table at ``scale``."""
    n = catalog_sizes(scale)
    rng = np.random.default_rng([seed, int(round(scale * 1_000_000))])

    yield "region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    nk = np.arange(25, dtype=np.int32)
    yield "nation", pa.table({
        "n_nationkey": pa.array(nk),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5)})

    c = n["customer"]
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -1000.0, 10000.0, c)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, c)])})

    s = n["supplier"]
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -1000.0, 10000.0, s))})

    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    yield "part", pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names[rng.integers(0, len(names), p)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, p)]),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), p)]),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})

    o = n["orders"]
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
        "o_orderdate": pa.array(EPOCH_1995 + rng.integers(0, 2403, o) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, o)])})

    li = n["lineitem"]
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, li), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, li), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, li)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, li)]),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2499, li)) * DAY_US)})

    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * DAY_US, e))
    yield "events", pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offsets),
        "user_id": pa.array(rng.integers(0, n["users"], e, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, d)]
    # ~5% near-duplicates: another document's text with " dup" appended
    for i in np.flatnonzero(rng.random(d) < 0.05):
        texts[i] = texts[rng.integers(0, d)] + " dup"
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(d, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, d, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    m = n["embeddings"]
    centers = rng.standard_normal((10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, 10, m, dtype=np.int32)
    vecs = 0.147 * centers[labels] + rng.standard_normal((m, 64)) / 8.0
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def write_catalog(scale, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(scale):
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# --- Sentiment140-format tweets -------------------------------------------

POSITIVE = ["love", "great", "happy", "awesome", "good", "thanks", "best",
            "fun", "nice", "glad", "yay", "excited"]
NEGATIVE = ["hate", "sad", "awful", "bad", "sick", "worst", "tired", "miss",
            "sorry", "ugh", "broken", "lost"]
NEUTRAL = ["today", "work", "going", "just", "time", "home", "night", "day",
           "school", "morning", "weekend", "friends", "movie", "lunch", "back",
           "tomorrow", "phone", "week", "game", "music", "Café", "Niño",
           "München", "résumé", "the", "and", "with", "for", "this",
           "that", "was", "is", "my", "on", "at", "so", "really", "still"]
PUNCT = ["", "", "", "!", "!!", "?", "...", ".", " :)", " :(", ",", ";"]
DAYS = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
MONTHS = ["Apr", "May", "Jun"]


def _case(words, r):
    """Mixed case: ~15% capitalised, ~5% upper-case words."""
    return [w.upper() if x < 0.05 else w.capitalize() if x < 0.2 else w
            for w, x in zip(words, r)]


def tweets(rng, n, labels, signal=True):
    """``n`` tweet texts whose sentiment words follow ``labels`` (0/4) with
    probability 0.8, mixed with neutral words, mentions, URLs and
    punctuation (with ``signal`` off: neutral text only). No double quotes;
    commas inside are quoted by the CSV."""
    pos, neg, neu = np.array(POSITIVE), np.array(NEGATIVE), np.array(NEUTRAL)
    n_words = rng.integers(4, 13, n)
    n_signal = rng.integers(1, 3, n) if signal else np.zeros(n, dtype=np.int64)
    own = rng.random((n, 2)) < 0.8
    sig_idx = rng.integers(0, len(POSITIVE), (n, 2))
    neu_idx = rng.integers(0, len(NEUTRAL), (n, 12))
    slot = rng.integers(0, 12, (n, 2))
    extra = rng.random((n, 3))
    case = rng.random((n, 14))
    punct = rng.integers(0, len(PUNCT), n)
    users = rng.integers(0, 5000, n)
    out = []
    for i in range(n):
        words = list(neu[neu_idx[i, :n_words[i]]])
        positive = labels[i] == 4
        for j in range(n_signal[i]):
            vocab = pos if positive == own[i, j] else neg
            words.insert(int(slot[i, j]) % (len(words) + 1), vocab[sig_idx[i, j]])
        words = _case(words, case[i])
        if extra[i, 0] < 0.3:
            words.insert(0, f"@user{users[i]}")
        if extra[i, 1] < 0.15:
            words.append(f"http://t.co/{users[i]:x}{i % 997:x}")
        text = " ".join(words) + PUNCT[punct[i]]
        if extra[i, 2] < 0.1:
            text = text.replace(" ", ", ", 1)
        out.append(text)
    return out


def sentiment_rows(seed, n_rows):
    """Labels and texts of a Sentiment140-shaped corpus (2% neutral rows,
    which the pipeline's class filter drops)."""
    rng = np.random.default_rng([seed, 140])
    labels = np.where(rng.random(n_rows) < 0.5, 0, 4)
    labels[rng.random(n_rows) < 0.02] = 2
    return labels, tweets(rng, n_rows, labels), rng


def write_sentiment_csv(seed, n_rows, path, pool=30_000):
    """Headerless, fully quoted, latin-1 CSV of ``n_rows`` tweets. Rows draw
    their text from two seeded pools, a labelled part and a neutral part, so
    1M rows are generated in seconds and nearly every text is distinct (the
    pipeline's balanced sample keys on the text)."""
    labels, texts, rng = sentiment_rows(seed, pool)
    neutral = tweets(rng, pool, labels, signal=False)
    dates = [f"{DAYS[rng.integers(0, 7)]} {MONTHS[rng.integers(0, 3)]} "
             f"{rng.integers(1, 29):02d} {rng.integers(0, 24):02d}:"
             f"{rng.integers(0, 60):02d}:{rng.integers(0, 60):02d} PDT 2009"
             for _ in range(1000)]
    users = [f"u{u}" for u in rng.integers(0, 50_000, 5000)]
    pick = rng.integers(0, pool, n_rows)
    table = pa.table({
        "sentiment": pa.array(labels[pick].astype(np.int32)),
        "id": pa.array(1_467_810_369 + np.arange(n_rows, dtype=np.int64) * 7),
        "date": pa.array(dates).take(pa.array(rng.integers(0, len(dates), n_rows))),
        "query": pa.array(["NO_QUERY"]).take(pa.array(np.zeros(n_rows, dtype=np.int64))),
        "user": pa.array(users).take(pa.array(rng.integers(0, len(users), n_rows))),
        "tweet": pc.binary_join_element_wise(
            pa.array(texts).take(pa.array(pick)),
            pa.array(neutral).take(pa.array(rng.integers(0, pool, n_rows))), " "),
    })
    sink = pa.BufferOutputStream()
    pacsv.write_csv(table, sink, pacsv.WriteOptions(
        include_header=False, quoting_style="all_valid"))
    with open(path, "wb") as f:
        f.write(sink.getvalue().to_pybytes().decode("utf-8").encode("latin-1"))


def write_batches(seed, n_texts, path):
    """Texts for the scoring loop, one per line, UTF-8."""
    rng = np.random.default_rng([seed, 15])
    labels = np.where(rng.random(n_texts) < 0.5, 0, 4)
    with open(path, "w", encoding="utf-8") as f:
        f.writelines(t + "\n" for t in tweets(rng, n_texts, labels))
