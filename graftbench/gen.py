"""Seeded input generator for the graft benchmark.

Every table is written as parquet in the test-corpus schemas
(`events` plus a changelog `op` column, `customer`, `documents`), so
the engine sees the same shapes as its own test data. The same seed
always gives the same files. Each generator returns the traffic
properties it planted, measured on the generated rows, so a run can
cite them next to its metrics.

Traffic shapes follow the engine's own test corpus
(the sf0.1 tables of TESTDATA.md, measured with DuckDB) where it has them:
  - event types uniform over the five kinds (19.8-20.3% each there);
  - `op` by the engine's changelog rule, Engagement.opExpr: an
    `error` event is a delete, every other kind an upsert (19.8%
    deletes there);
  - `value` exponential with mean 50 (mean 49.9, median 34.8, p90
    114.3 there); `props` is {"k": n} with n uniform in 0..99;
  - document languages en 41%, zh 15%, es 15%, fr 15%, de 14%;
  - document length uniform in 20..90 words (p10 19, median 54, p90
    90 there);
  - near-duplicates are one-word edits of an earlier document: 9.5%
    of the documents there have a word-3-gram Jaccard neighbour at
    >= 0.5 (nearly all at >= 0.9), i.e. pairs of which one is the
    copy, so 5% of documents are planted copies.
Two shapes the test corpus lacks are chosen here: `user_id` keys are
Zipf(1.1)-skewed (the test corpus draws its 1,500 keys uniformly, top
1% of keys carry 1.3% of rows) so hot keys meet in every micro-batch,
and 10% of events arrive out of order, their ts 1 min to 2 h behind
(the test corpus is ordered by ts) so the CDC store's latest-by-ts
rule and its tombstones are exercised.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
BASE_TS_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00

# Marker words graft's language scorer counts (TextOps.langMarkers);
# "zh" docs carry none and are predicted "und".
LANG_MARKERS = {
    "en": ["the", "and", "data", "table", "query"],
    "es": ["el", "la", "los", "datos", "tabla"],
    "de": ["der", "die", "und", "daten"],
    "fr": ["le", "les", "et", "requete"],
    "zh": [],
}
LANG_MIX = {"en": 0.41, "zh": 0.15, "es": 0.15, "fr": 0.15, "de": 0.14}
ZIPF_S = 1.1
OOO_SHARE = 0.10
NEAR_DUP_SHARE = 0.05


def _write(path, columns, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
])
CHANGELOG_SCHEMA = EVENTS_SCHEMA.append(pa.field("op", pa.string()))
CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
    ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
])
DOCS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])


def customers(rng, n):
    keys = np.arange(n, dtype=np.int64)
    # a few non-positive balances exercise the enrich null branch
    bal = np.round(rng.uniform(-100.0, 9900.0, n), 2)
    return {
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": bal,
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
    }


def _zipf_keys(rng, n_keys, n, s):
    """Zipf(s)-ranked draws over `n_keys` keys; the rank→key map is a
    seeded permutation so hot keys are spread over the key space."""
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    ranks = rng.choice(n_keys, size=n, p=p / p.sum())
    return rng.permutation(n_keys).astype(np.int64)[ranks]


def events_changelog(rng, first_id, n, n_keys, *, t0_us, span_us, ooo_share, keys=None):
    """`n` changelog rows with ids from `first_id`, nominal event times
    spread over [t0, t0+span) and an `ooo_share` whose ts lags its
    nominal time by 1 min to 2 h."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    user = keys if keys is not None else _zipf_keys(rng, n_keys, n, ZIPF_S)
    ts = t0_us + (np.arange(n, dtype=np.int64) * span_us) // max(n, 1)
    late = rng.random(n) < ooo_share
    ts = ts - np.where(late, rng.integers(60_000_000, 7_200_000_000, n), 0)
    kinds = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    return {
        "event_id": ids, "ts": ts, "user_id": user, "event_type": kinds,
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        "op": np.where(kinds == "error", "delete", "upsert"),
    }, late


def top_key_share(keys, n_keys):
    """Share of rows carried by the hottest 1% of the key space."""
    counts = np.sort(np.bincount(keys, minlength=n_keys))[::-1]
    return float(counts[: max(1, n_keys // 100)].sum() / max(1, len(keys)))


def gen_engagement(seed, out, *, n_keys, n_customers, files, events_per_file):
    """engagement_live inputs: a customer dimension, a preload changelog
    with one row per key (the pre-loaded state), a warm-up file for a
    throw-away state, a primer file and the scheduled stream files
    (staged, renamed into the watched directory at their due times by
    the harness)."""
    rng = np.random.default_rng(seed)
    _write(f"{out}/customer.parquet", customers(rng, n_customers), CUSTOMER_SCHEMA)
    next_id = 0
    pre, _ = events_changelog(rng, next_id, n_keys, n_keys, t0_us=BASE_TS_US,
                              span_us=86_400_000_000, ooo_share=0.0,
                              keys=rng.permutation(n_keys).astype(np.int64))
    next_id += n_keys
    _write(f"{out}/preload.parquet", pre, CHANGELOG_SCHEMA)
    t = BASE_TS_US + 86_400_000_000
    step = 60_000_000  # one minute of event time per file
    stream_keys, stream_late, stream_ops = [], [], []

    def file_rows(path, n):
        nonlocal next_id, t
        rows, late = events_changelog(rng, next_id, n, n_keys, t0_us=t, span_us=step,
                                      ooo_share=OOO_SHARE)
        next_id += n
        t += step
        _write(path, rows, CHANGELOG_SCHEMA)
        return rows, late

    file_rows(f"{out}/warmup.parquet", events_per_file)
    for i in range(files + 1):  # file 0 is the primer
        name = "primer.parquet" if i == 0 else f"staged/part-{i:05d}.parquet"
        rows, late = file_rows(f"{out}/{name}", events_per_file)
        if i > 0:
            stream_keys.append(rows["user_id"])
            stream_late.append(late)
            stream_ops.append(rows["op"])
    keys = np.concatenate(stream_keys)
    return {
        "keys": n_keys,
        "stream_rows": int(len(keys)),
        "top1pct_key_share": top_key_share(keys, n_keys),
        "delete_share": float(np.mean(np.concatenate(stream_ops) == "delete")),
        "out_of_order_share": float(np.mean(np.concatenate(stream_late))),
        "events_per_file": events_per_file,
    }


def _doc_tokens(rng, lang, n_tokens, fresh):
    """A document of `n_tokens` words: every fourth word is one of
    its language's markers, the rest are fresh words no other
    document uses. No word 3-gram can then repeat across documents,
    so unique documents share no shingle."""
    markers = LANG_MARKERS[lang]
    words = []
    for j in range(n_tokens):
        if markers and j % 4 == 0:
            words.append(markers[int(rng.integers(0, len(markers)))])
        else:
            words.append(fresh())
    return words


def gen_corpus(seed, out, *, preload_docs, batches, batch_docs):
    """corpus_ingest inputs: a warm-up batch for a throw-away state, the
    pre-loaded index's documents and `batches` fixed-size ingest
    batches. A planted near-duplicate replaces one fresh word of an
    earlier original (word-3-gram Jaccard >= 0.7 at 20 words);
    `clusters.json` records each planted duplicate's original."""
    rng = np.random.default_rng(seed)
    counter = iter(range(1 << 40))

    def fresh():
        return f"w{next(counter):x}"

    langs = np.array(list(LANG_MIX))
    probs = np.array([LANG_MIX[l] for l in langs])
    texts, doc_lang = [], []
    dup_of = {}

    def make_doc(first):
        """One document; a near-duplicate's original is drawn from ids
        >= `first`, so warm-up and measured documents never link."""
        doc_id = len(texts)
        if doc_id > first and rng.random() < NEAR_DUP_SHARE:
            orig = int(rng.integers(first, doc_id))
            while orig in dup_of:  # clusters are stars around one original
                orig = dup_of[orig]
            words = texts[orig].split(" ")
            slots = [j for j in range(len(words)) if j % 4 != 0 or not LANG_MARKERS[doc_lang[orig]]]
            words[int(rng.choice(slots))] = fresh()
            dup_of[doc_id] = orig
            lang = doc_lang[orig]
        else:
            lang = str(rng.choice(langs, p=probs))
            words = _doc_tokens(rng, lang, int(rng.integers(20, 91)), fresh)
        texts.append(" ".join(words))
        doc_lang.append(lang)
        return doc_id

    def write_docs(path, ids):
        _write(path, {
            "doc_id": np.array(ids, dtype=np.int64),
            "text": [texts[i] for i in ids],
            "lang": [doc_lang[i] for i in ids],
            "source": [f"src{i % 7}" for i in ids],
            "n_chars": np.array([len(texts[i]) for i in ids], dtype=np.int64),
        }, DOCS_SCHEMA)

    # warm-up docs live in their own id range and their own state
    write_docs(f"{out}/warmup.parquet", [make_doc(0) for _ in range(batch_docs)])
    base = len(texts)
    write_docs(f"{out}/preload.parquet", [make_doc(base) for _ in range(preload_docs)])
    stream_dups = 0
    for b in range(batches):
        ids = [make_doc(base) for _ in range(batch_docs)]
        stream_dups += sum(1 for i in ids if i in dup_of)
        write_docs(f"{out}/batches/batch-{b:05d}.parquet", ids)
    clusters = {str(d): o for d, o in dup_of.items() if d >= base}
    with open(f"{out}/clusters.json", "w") as f:
        json.dump(clusters, f)
    lang_counts = {l: doc_lang[base:].count(l) for l in LANG_MIX}
    total = len(texts) - base
    return {
        "preload_docs": preload_docs,
        "batch_docs": batch_docs,
        "near_dup_share": stream_dups / max(1, batches * batch_docs),
        "lang_mix": {l: c / total for l, c in lang_counts.items()},
        "state_rows_per_batch_row": preload_docs / batch_docs,
    }
