"""Output checks, made apart from the program under test.

Each check takes plain Python data (the generator's tallies or DuckDB's
oracle rows on one side, the program's outputs as loaded by `load_*` on
the other) and returns {op index: reason} for every timed operation
whose output is wrong. A failed check counts its operation as failed.
`tests/test_checks.py` shows that every checker rejects a corrupted
result.
"""
import glob
import math
import os

import duckdb


# ------------------------------------------------------------------ helpers

def canon(rows):
    """Canonical form of result rows for comparison with DuckDB: floats
    rounded to 6 places (NaN spelled out), everything else as text."""
    out = []
    for r in rows:
        rr = []
        for v in r:
            if isinstance(v, float):
                rr.append("NaN" if math.isnan(v) else round(v, 6))
            else:
                rr.append(str(v))
        out.append(tuple(rr))
    return out


def _fail(fails, op, reason):
    fails.setdefault(op, reason)


# --------------------------------------------------------------- log_stream

def load_log_stream(store):
    """Read the three sinks' parquet outputs, keyed by stream batch id."""
    con = duckdb.connect()
    stored, flagged, preds = {}, {}, {}
    raw = glob.glob(f"{store['raw']}/**/*.parquet", recursive=True)
    if raw:
        for bid, ep, st, n, ms in con.execute(
                "SELECT batch_id, endpoint, status_code, count(*), "
                "sum(CAST(round(request_time_seconds * 1000) AS BIGINT)) "
                f"FROM read_parquet({raw!r}, hive_partitioning = 1) GROUP BY ALL").fetchall():
            stored.setdefault(bid, {})[f"{ep}|{st}"] = (n, int(ms))
    fl = glob.glob(f"{store['flagged']}/*.parquet")
    if fl:
        for bid, ip in con.execute(
                f"SELECT batch_id, remote_addr FROM read_parquet({fl!r})").fetchall():
            flagged.setdefault(bid, set()).add(ip)
    pr = glob.glob(f"{store['predictions']}/*.parquet")
    if pr:
        for bid, n, lo, hi, sse, sa in con.execute(
                "SELECT batch_id, count(*), min(predicted_time), max(predicted_time), "
                "sum((predicted_time - actual_time) ^ 2), sum(actual_time) "
                f"FROM read_parquet({pr!r}) GROUP BY ALL").fetchall():
            preds[bid] = (n, lo, hi, sse, sa)
    return stored, flagged, preds


def check_log_stream(tallies, ops, stored, flagged, preds):
    """Per micro-batch: stored rows and per-(endpoint, status) counts and
    time sums equal the generator's tallies; the flagged IPs equal the
    set the generator derived by the |z| > 3 / new-IP > 100 rule; one
    prediction per eligible line, each inside the training label range;
    and the batch RMSE is below that of predicting the training mean."""
    fails = {}
    lo, hi, mean = tallies["train_min"], tallies["train_max"], tallies["train_mean"]
    for op in ops:
        if not op["ok"]:
            continue
        i = op["i"]
        t = tallies["pool"][op["info"]["pool"]]
        bids = op["info"]["batch_ids"]
        if len(bids) != 1:
            _fail(fails, i, f"offer ran as {len(bids)} micro-batches")
            continue
        b = bids[0]
        got = stored.get(b, {})
        want = {k: tuple(v) for k, v in t["pairs"].items()}
        if sum(n for n, _ in got.values()) != t["valid"]:
            _fail(fails, i, f"stored {sum(n for n, _ in got.values())} rows, want {t['valid']}")
        elif got != want:
            bad = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
            _fail(fails, i, f"(endpoint, status) tallies differ at {bad[:3]}")
        if flagged.get(b, set()) != set(t["flagged"]):
            _fail(fails, i, f"flagged {sorted(flagged.get(b, set()))} want {t['flagged']}")
        n, plo, phi, sse, sa = preds.get(b, (0, None, None, 0.0, 0.0))
        if n != t["eligible"]:
            _fail(fails, i, f"{n} predictions for {t['eligible']} eligible lines")
            continue
        if plo < lo - 1e-9 or phi > hi + 1e-9:
            _fail(fails, i, f"prediction outside the label range [{lo}, {hi}]")
        if abs(sa - t["sum_rt"]) > 1e-6 * max(1.0, t["sum_rt"]):
            _fail(fails, i, "predicted rows carry other actual times than the batch")
        sse_mean = t["sum_rt2"] - 2 * mean * t["sum_rt"] + n * mean * mean
        if not sse < sse_mean:
            _fail(fails, i, f"RMSE {math.sqrt(sse / n):.4f} not below the "
                            f"training-mean RMSE {math.sqrt(sse_mean / n):.4f}")
    return fails


# ----------------------------------------------------- log_dashboard, corpus

def oracle_rows(inputs, sql):
    """DuckDB's result for one oracle query over the generated tables."""
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    rel = con.sql(sql)
    cols = sorted(rel.columns)
    rows = con.sql("SELECT " + ",".join(f'"{c}"' for c in cols) + f" FROM ({sql})").fetchall()
    return cols, canon(rows)


def result_rows(path):
    """The program's collected result for one query, as written after
    the timed phase, in the same canonical form."""
    con = duckdb.connect()
    files = glob.glob(f"{path}/*.parquet")
    rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
    cols = sorted(rel.columns)
    rows = con.sql("SELECT " + ",".join(f'"{c}"' for c in cols) +
                   f" FROM read_parquet({files!r})").fetchall()
    return cols, canon(rows)


def check_queries(ops, first_hash, expected, got):
    """Every op's full, ordered result equals DuckDB's result for that
    query's oracle SQL: the first timed result of each query is compared
    row by row, in order, and every later op of the query must have
    returned rows with the same hash."""
    fails = {}
    bad = {}
    for q, (cols, rows) in got.items():
        if q not in expected:
            bad[q] = "no oracle result"
            continue
        ecols, erows = expected[q]
        if cols != ecols:
            bad[q] = f"columns {cols} != oracle {ecols}"
        elif rows != erows:
            if sorted(rows) == sorted(erows):
                bad[q] = "row order differs from the oracle"
            else:
                bad[q] = f"{len(rows)} rows differ from the oracle's {len(erows)}"
    for op in ops:
        if not op["ok"]:
            continue
        q = op["name"]
        if q in bad:
            _fail(fails, op["i"], f"{q}: {bad[q]}")
        elif op["info"]["hash"] != first_hash.get(q):
            _fail(fails, op["i"], f"{q}: result differs between repetitions")
    return fails


# ------------------------------------------------------------- corpus_delta

def load_corpus_delta(inputs, run):
    """The batches as generated, and the program's outputs: split rows and
    admitted ids per stream batch id, the re-batched admitted ids, and
    the final doc_id lists of the stored split table and gram index."""
    con = duckdb.connect()
    docs = {}   # doc_id -> (text, pool index or None for warm-up)
    for dirname in ("warmup", "batches"):
        for k, p in enumerate(sorted(glob.glob(f"{inputs}/{dirname}/*.parquet"))):
            for did, text in con.execute(f"SELECT doc_id, text FROM '{p}'").fetchall():
                docs[did] = (text, k if dirname == "batches" else None)
    st = run["store"]

    def rows(sql, path):
        files = glob.glob(f"{path}/*.parquet")
        return con.execute(sql.format(f"read_parquet({files!r})")).fetchall() if files else []

    split = {}
    for bid, did, s in rows("SELECT batch_id, doc_id, split FROM {}", f"{st['dir']}/split"):
        split.setdefault(bid, []).append((did, s))
    admitted = {}
    for bid, did in rows("SELECT batch_id, doc_id FROM {}", f"{st['dir']}/admitted"):
        admitted.setdefault(bid, set()).add(did)
    rebatched = {did for (did,) in rows("SELECT doc_id FROM {}",
                                        f"{st['dir']}/admitted_rebatch")}
    wh = f"{st['warehouse']}/{st['prefix']}"
    table_ids = {t: [did for (did,) in rows("SELECT doc_id FROM {}", f"{wh}_{t}")]
                 for t in ("split", "grams")}
    return docs, split, admitted, rebatched, table_ids


def check_corpus_delta(tallies, ops, docs, split, admitted, rebatched, table_ids):
    """Per micro-batch: every batch document gets exactly one split row;
    a planted copy (word 3-shingle Jaccard >= 0.9) inherits its source's
    split; no admitted text's SHA-256 matches an indexed at-rest text;
    the stored split table and gram index hold each processed document
    exactly once beside the at-rest ids (they grew by exactly the batch's
    new ids); and the admission verdicts equal those of the same
    documents re-batched at twice the batch size."""
    import hashlib
    fails = {}
    at_digests = set(tallies["at_rest_digests"])
    at_split = tallies["at_split"]
    n_rest = tallies["at_rest"]
    assigned = {}
    for rows in split.values():
        for did, s in rows:
            assigned.setdefault(did, s)
    timed = [op for op in ops if op["ok"]]
    processed = set(did for did, (_, k) in docs.items() if k is None)
    for op in timed:
        processed |= {did for did, (_, k) in docs.items() if k == op["info"]["pool"]}
    counts = {t: {} for t in table_ids}
    for t, ids in table_ids.items():
        for did in ids:
            counts[t][did] = counts[t].get(did, 0) + 1
    planted = {}
    for p in tallies["planted"]:
        if p["dir"] == "batches":
            planted.setdefault(p["batch"], []).append(p)
    for op in timed:
        i, k = op["i"], op["info"]["pool"]
        bids = op["info"]["batch_ids"]
        want = sorted(did for did, (_, kk) in docs.items() if kk == k)
        if len(bids) != 1:
            _fail(fails, i, f"offer ran as {len(bids)} micro-batches")
            continue
        got = sorted(did for did, _ in split.get(bids[0], []))
        if got != want:
            _fail(fails, i, f"{len(got)} split rows for {len(want)} batch documents")
        for p in planted.get(k, []):
            if p["jaccard"] < 0.9:
                continue
            src = at_split[p["source"]] if p["at_rest"] else assigned.get(p["source"])
            if assigned.get(p["doc_id"]) != src:
                _fail(fails, i, f"copy {p['doc_id']} of {p['source']} got split "
                                f"{assigned.get(p['doc_id'])}, source has {src}")
        adm = admitted.get(bids[0], set())
        for did in adm:
            if hashlib.sha256(docs[did][0].encode()).hexdigest() in at_digests:
                _fail(fails, i, f"admitted doc {did} is an exact copy of an at-rest text")
        if {d for d in want if d in rebatched} != adm:
            _fail(fails, i, "admission verdicts change with the batch size")
        for t, c in counts.items():
            bad = [d for d in want if c.get(d, 0) != 1]
            if bad:
                _fail(fails, i, f"stored {t} table holds doc {bad[0]} {c.get(bad[0], 0)} times")
    for t, c in counts.items():
        extra = [d for d in c if d >= n_rest and d not in processed]
        rest = sum(1 for d in c if d < n_rest)
        if extra or rest != n_rest or any(c[d] != 1 for d in c if d < n_rest):
            for op in timed:
                _fail(fails, op["i"], f"stored {t} table is not the at-rest ids plus the "
                                      f"processed batches")
    return fails
