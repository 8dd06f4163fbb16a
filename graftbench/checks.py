"""Output checks for the graft benchmark, run after the timed window.

Each check recomputes a workload's answer in DuckDB from the inputs
the run actually consumed and returns a list of mismatch messages
(empty when the engine's output is right).
"""
import json

import duckdb


def _files(paths):
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


def _diff(con, got_sql, want_sql):
    """Rows in one result and not the other, both ways."""
    extra = con.execute(f"SELECT count(*) FROM (({got_sql}) EXCEPT ALL ({want_sql}))").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}))").fetchone()[0]
    return extra, missing


def check_engagement(work, consumed):
    """`consumed`: the stream files the query merged (primer first).
    Checks the compacted live view, the leaderboard top 10 and the
    routed per-route counts."""
    con = duckdb.connect()
    stream = _files(consumed)
    changelog = _files([f"{work}/input/preload.parquet"] + consumed)
    errors = []
    live_want = f"""
        SELECT user_id, event_id, epoch_us(ts) AS ts, event_type, value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM read_parquet({changelog})) WHERE rn = 1 AND op <> 'delete'"""
    live_got = f"""SELECT user_id, event_id, epoch_us(ts) AS ts, event_type, value
                   FROM read_parquet('{work}/out/live/*.parquet')"""
    extra, missing = _diff(con, live_got, live_want)
    if extra or missing:
        errors.append(f"live view: {extra} unexpected rows, {missing} missing rows")

    want = con.execute(f"""
        SELECT user_id, sum(CAST(value AS DECIMAL(18, 2))) AS s, count(*) AS n
        FROM read_parquet({changelog}) GROUP BY user_id
        ORDER BY s DESC, user_id LIMIT 10""").fetchall()
    got = con.execute(f"""SELECT rank, user_id, score, n_events
                          FROM read_parquet('{work}/out/topn/*.parquet') ORDER BY rank""").fetchall()
    # the engine sums in floating point: scores match to the cent, and
    # users whose exact sums tie may come in either order
    want_k = sorted((-float(s), u, n) for u, s, n in want)
    got_k = sorted((-float(sc), u, n) for _, u, sc, n in got)
    scores = [float(sc) for _, _, sc, _ in got]
    if ([r for r, *_ in got] != list(range(1, len(got) + 1))
            or any(a < b - 0.005 for a, b in zip(scores, scores[1:]))
            or len(got_k) != len(want_k)
            or any(abs(a[0] - b[0]) > 0.005 or a[1:] != b[1:] for a, b in zip(got_k, want_k))):
        errors.append(f"leaderboard top 10: got {got} want {want}")

    routes = con.execute(f"""
        SELECT CASE event_type WHEN 'purchase' THEN 'billing' WHEN 'signup' THEN 'crm'
                               WHEN 'error' THEN 'ops' ELSE 'analytics' END AS route,
               count(*) AS n, sum(CAST(value AS DECIMAL(18, 2))) AS total
        FROM read_parquet({stream}) GROUP BY 1 ORDER BY 1""").fetchall()
    got = con.execute(f"""SELECT route, n, total FROM read_parquet('{work}/out/routed_counts/**/*.parquet')
                          ORDER BY route""").fetchall()
    if len(got) != len(routes) or any(
            g[0] != w[0] or g[1] != w[1] or abs(g[2] - float(w[2])) > 0.011 for g, w in zip(got, routes)):
        errors.append(f"routed counts: got {got} want {routes}")
    return errors


def check_corpus(work, consumed):
    """`consumed`: every document file merged into the measured state
    (pre-load chunks and ingest batches). Checks the report's rows, its
    near-duplicate verdicts against the planted clusters and its
    language verdicts against the generated languages."""
    con = duckdb.connect()
    with open(f"{work}/input/clusters.json") as f:
        clusters = json.load(f)
    docs = con.execute(f"SELECT doc_id, lang FROM read_parquet({_files(consumed)})").fetchall()
    got = {d: (lang, kept) for d, lang, kept in con.execute(
        f"SELECT doc_id, pred_lang, dedup_kept FROM read_parquet('{work}/out/report/*.parquet')").fetchall()}
    errors = []
    if len(got) != len(docs):
        errors.append(f"report has {len(got)} rows for {len(docs)} documents")
    wrong_dup = wrong_lang = 0
    for d, lang in docs:
        pred, kept = got.get(d, (None, None))
        wrong_dup += kept != (str(d) not in clusters)
        wrong_lang += pred != ("und" if lang == "zh" else lang)
    if wrong_dup:
        errors.append(f"{wrong_dup} documents with a wrong near-duplicate verdict")
    if wrong_lang:
        errors.append(f"{wrong_lang} documents with a wrong language verdict")
    return errors
