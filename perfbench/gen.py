"""Seeded input generators, one per workload.

Every input a run feeds the program is made here from `--seed` before
anything is timed, together with the generator's own tallies that the
checks in `checks.py` compare the program's outputs against. The same
(workload, seed, size) always yields byte-identical files.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload; SMOKE holds the tiny variant the benchmark's own
# tests run. See README.md ("Inputs") for why each size was chosen.
FULL = {
    # per_batch=600 makes ~1,000 lines per micro-batch: the reference's
    # producer polls at most 1,000 lines a minute (Loki `limit: 1000`)
    "log_stream": dict(ips=300, per_batch=600, batches=20, warmup=4, train=2000),
    "log_dashboard": dict(events=750_000, files=8, users=1500),
    "corpus_batch": dict(docs=3000, vecs=2000),
    "corpus_delta": dict(at_rest=3000, vecs=2000, batch=24, batches=40, warmup=1),
}
SMOKE = {
    "log_stream": dict(ips=40, per_batch=300, batches=10, warmup=1, train=800),
    "log_dashboard": dict(events=20_000, files=2, users=300),
    "corpus_batch": dict(docs=400, vecs=300),
    "corpus_delta": dict(at_rest=600, vecs=300, batch=8, batches=10, warmup=1),
}

MONITOR_AGENT = "promtail/2.2.1"
REQUIRED = ("request", "remote_addr", "status", "request_time")


def _write_parquet(table, path, files=1):
    if files == 1:
        pq.write_table(table, path, row_group_size=128 * 1024)
        return
    os.makedirs(path)
    n = table.num_rows
    for i in range(files):
        lo, hi = n * i // files, n * (i + 1) // files
        pq.write_table(table.slice(lo, hi - lo), f"{path}/part-{i:05d}.parquet",
                       row_group_size=128 * 1024)


# ---------------------------------------------------------------- log_stream

ENDPOINTS = {  # endpoint -> (share, base response time in seconds)
    "users": (0.30, 0.020), "items": (0.25, 0.045), "orders": (0.15, 0.120),
    "search": (0.15, 0.350), "reports": (0.10, 0.900), "login": (0.05, 0.070),
}
COUNTRIES = ["US", "DE", "FR", "IN", "BR", "JP", ""]
AGENTS = ["Mozilla/5.0 (X11; Linux x86_64)", "Mozilla/5.0 (Macintosh)", "curl/8.4.0",
          "python-requests/2.31"]


def _iso(ts):
    import datetime as dt
    return dt.datetime.fromtimestamp(ts, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S+00:00")


def _records(rng, ips, ts):
    """Valid nginx records for the given (remote_addr, epoch second) pairs:
    JSON wire lines plus each line's endpoint ('' for /health, which
    stores but is not eligible for prediction), status and response
    time. Response time depends on endpoint and status, so a model can
    learn it."""
    k = len(ips)
    eps = list(ENDPOINTS)
    share = np.array([ENDPOINTS[e][0] for e in eps])
    ep = rng.choice(len(eps), size=k, p=share / share.sum())
    status = rng.choice([200, 404, 500], size=k, p=[0.85, 0.08, 0.07])
    base = np.array([ENDPOINTS[e][1] for e in eps])[ep] * np.where(status == 500, 1.6, 1.0)
    rt = np.maximum(0.001, np.round(base * rng.lognormal(0.0, 0.15, size=k), 3))
    health = rng.random(k) < 0.03
    ints = rng.integers(0, 2 ** 31, size=(k, 8))
    post = rng.random(k) < 0.2
    lines, endpoint = [], []
    for j in range(k):
        i = ints[j]
        uri = "/health" if health[j] else f"/api/{eps[ep[j]]}/{i[0] % 100000}"
        method = "POST" if post[j] else "GET"
        lines.append(json.dumps({
            "msec": f"{ts[j]}.{i[1] % 1000:03d}", "connection": str(i[2] % 10 ** 6),
            "pid": str(100 + i[3] % 900), "request_id": f"{i[4]:08x}{i[5]:08x}",
            "request_length": str(200 + i[6] % 1800), "remote_addr": ips[j],
            "remote_port": str(1024 + i[7] % 64000), "time_iso8601": _iso(int(ts[j])),
            "request": f"{method} {uri} HTTP/1.1", "request_uri": uri,
            "status": str(status[j]), "body_bytes_sent": str(i[2] % 50000),
            "http_user_agent": AGENTS[i[3] % len(AGENTS)], "http_host": "api.example.com",
            "request_time": f"{rt[j]:.3f}", "upstream_response_time": f"{rt[j]:.3f}",
            "scheme": "https", "request_method": method, "server_protocol": "HTTP/1.1",
            "geoip2_country_code": COUNTRIES[i[1] % len(COUNTRIES)],
        }))
        endpoint.append("" if health[j] else eps[ep[j]])
    return lines, endpoint, status, rt


def _planted(rng, ips, ts, kinds):
    """Lines the parse chain must drop: malformed JSON, monitoring-agent
    self-traffic, and records missing one required key."""
    lines, _, _, _ = _records(rng, ips, ts)
    out = []
    for line, kind, cut in zip(lines, kinds, rng.integers(5, 200, size=len(lines))):
        rec = json.loads(line)
        if kind == "agent":
            rec["http_user_agent"] = MONITOR_AGENT
        elif kind == "missing":
            del rec[REQUIRED[cut % len(REQUIRED)]]
        else:
            out.append(line[:cut])  # cut inside the object
            continue
        out.append(json.dumps(rec))
    return out


def gen_log_stream(out, seed, size):
    rng = np.random.default_rng([seed, 1])
    n = size["ips"]
    ids = rng.choice(np.arange(1, 60000), size=n, replace=False)
    ips = [f"10.{i // 65536 % 256}.{i // 256 % 256}.{i % 256}" for i in ids]
    # key skew: Zipf-like request shares, chosen, not measured (the
    # reference ships no traffic sample)
    w = 1.0 / np.arange(1, n + 1) ** 0.9
    lam = np.maximum(1.0, w / w.sum() * size["per_batch"])
    hist = rng.poisson(lam[:, None], size=(n, 168))
    mean = hist.mean(axis=1)
    sd = hist.std(axis=1, ddof=1)
    pq.write_table(pa.table({
        "remote_addr": pa.array(np.repeat(ips, 168).tolist(), pa.string()),
        "hour": pa.array(np.tile(np.arange(168), n), pa.int32()),
        "request_count": pa.array(hist.ravel(), pa.int64()),
    }), f"{out}/hist.parquet")

    def z_of(i, c):
        return 0.0 if sd[i] <= 0 else (c - mean[i]) / sd[i]

    base_ts = 1753401600  # 2025-07-25T00:00:00Z

    def batch(b):
        counts = rng.poisson(lam)
        for i in rng.choice(n, size=2, replace=False):  # burst IPs
            counts[i] = int(np.ceil(mean[i] + float(rng.uniform(5, 9)) * max(sd[i], 1.0)))
        for i in range(n):  # keep every known IP clear of the |z| = 3 edge
            while counts[i] > 0 and 2.9 <= abs(z_of(i, counts[i])) <= 3.1:
                counts[i] += 1 if z_of(i, counts[i]) > 0 else -1
        # new IPs, absent from the baseline: one above the new-IP rule's
        # 100 requests, three below it
        new = {f"172.16.{b % 256}.{k + 1}": c
               for k, c in enumerate([int(rng.integers(120, 200))] +
                                     [int(x) for x in rng.integers(1, 60, size=3)])}
        owners = [(ips[i], int(c)) for i, c in enumerate(counts) if c > 0] + list(new.items())
        who = [ip for ip, c in owners for _ in range(c)]
        t0 = base_ts + 3600 * (b % 24) + 60 * (b // 24)
        lines, endpoint, status, rt = _records(rng, who, t0 + rng.integers(0, 60, size=len(who)))
        pairs = {}
        for ep, st, r in zip(endpoint, status.tolist(), rt.tolist()):
            cnt, ms = pairs.get(f"{ep}|{st}", (0, 0))
            pairs[f"{ep}|{st}"] = (cnt + 1, ms + int(round(r * 1000)))
        elig = np.array([e != "" for e in endpoint])
        valid = len(lines)
        kinds = [k for k, share in (("malformed", 0.02), ("agent", 0.03), ("missing", 0.02))
                 for _ in range(int(valid * share))]
        lines += _planted(rng, [ips[i] for i in rng.integers(0, n, size=len(kinds))],
                          t0 + rng.integers(0, 60, size=len(kinds)), kinds)
        lines = [lines[i] for i in rng.permutation(len(lines))]
        flagged = sorted(
            [ip for i, ip in enumerate(ips) if counts[i] > 0 and abs(z_of(i, counts[i])) > 3] +
            [ip for ip, c in new.items() if c > 100])
        tally = dict(lines=len(lines), valid=valid, eligible=int(elig.sum()),
                     pairs=pairs, flagged=flagged,
                     sum_rt=float(rt[elig].sum()), sum_rt2=float((rt[elig] ** 2).sum()))
        return lines, tally

    def write(dirname, prefix, k, first):
        os.makedirs(f"{out}/{dirname}", exist_ok=True)
        tallies = []
        for b in range(k):
            lines, tally = batch(first + b)
            with open(f"{out}/{dirname}/{prefix}{b:04d}.txt", "w") as f:
                f.write("\n".join(lines) + "\n")
            tallies.append(tally)
        return tallies

    warm = write("warmup", "w", size["warmup"], 1000)
    pool = write("batches", "b", size["batches"], 0)

    m = size["train"]
    train, endpoint, _, rt = _records(rng, [ips[i] for i in rng.integers(0, n, size=m)],
                                      base_ts + rng.integers(0, 86400, size=m))
    with open(f"{out}/train.txt", "w") as f:
        f.write("\n".join(train) + "\n")
    labels = rt[np.array([e != "" for e in endpoint])]
    return dict(pool=pool, warmup=warm, train_min=float(labels.min()),
                train_max=float(labels.max()), train_mean=float(labels.mean()),
                train_n=int(len(labels)))


# ------------------------------------------------------------- log_dashboard

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
# The dashboards' read path: traffic rollups, a moving average, z-score
# anomaly, a time-range scan, percentiles, sessions, funnel and retention.
# With eight queries the median of a run falls between the fourth and
# fifth fastest, q_moving_avg and q_user_retention (about 1.0 and 1.25 s
# here); without q_moving_avg it fell on q_user_retention alone, whose
# time varied from 0.77 to 1.36 s between runs (README.md, "Limits").
DASHBOARD_QUERIES = [
    "q_hourly_traffic", "q_moving_avg", "q_zscore_anomaly", "q_time_range_scan",
    "q_latency_percentiles", "q_session_stats", "q_funnel", "q_user_retention",
]


def gen_log_dashboard(out, seed, size):
    """An events table drawn like the engine's fixture events table
    (TESTDATA.md, FIXTURES.md), whose distributions were measured with
    DuckDB: event times uniform over 2024-01-01..2024-01-30 and stored in
    time order with sequential ids; users uniform over 1,500 ids (per-user
    counts spread as Poisson, no skew); the five event types at 20% each;
    values exponential with mean 50, rounded to cents; props `{"k": K}`
    with K uniform over 0..99. Only the row count is larger."""
    rng = np.random.default_rng([seed, 2])
    n = size["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10 ** 6
    ts = np.sort(start + rng.integers(0, span, size=n))
    user = rng.integers(0, size["users"], size=n)
    etype = rng.integers(0, len(EVENT_TYPES), size=n)
    value = np.round(rng.exponential(50.0, size=n), 2)
    k = rng.integers(0, 100, size=n)
    table = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user.astype(np.int64), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[etype].tolist(), pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {x}}}' for x in k.tolist()], pa.string()),
    })
    _write_parquet(table, f"{out}/events.parquet", size["files"])
    seq = list(DASHBOARD_QUERIES)
    rng.shuffle(seq)
    with open(f"{out}/sequence.txt", "w") as f:
        f.write("\n".join(seq) + "\n")
    return dict(queries=seq)


# ------------------------------------------------------------------ corpora

TECH_WORDS = ("key agg row scan slow fast table value part hash join merge sort "
              "filter group window stream batch spark query data column order line "
              "vector customer small big index shard cache plan stage task node").split()
STOP_WORDS = ["a", "the", "and"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DIM = 64


def _embeddings(rng, ids, labels=10, dup_share=0.02):
    centers = rng.normal(size=(labels, DIM))
    label = rng.integers(0, labels, size=len(ids))
    v = centers[label] + rng.normal(scale=0.6, size=(len(ids), DIM))
    for i in np.flatnonzero(rng.random(len(ids)) < dup_share):  # near-identical pairs
        j = int(rng.integers(0, len(ids)))
        v[i] = v[j] + rng.normal(scale=1e-3, size=DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return label, v.astype(np.float32)


def _embedding_table(rng, n):
    label, v = _embeddings(rng, range(n))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32), pa.int32()),
    })


def _doc_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# One or two queries per corpus family that has a DuckDB oracle: dedup,
# decontamination, quality and text analysis, similarity and ANN,
# retrieval, and the prep chains.
CORPUS_QUERIES = [
    "q_dedup_exact", "q_minhash_dedup", "q_minhash_decontaminate", "q_ngram_decontaminate",
    "q_substring_spans", "q_text_quality", "q_embedding_quantize", "q_hard_negatives",
    "q_bm25_indexed", "q_corpus_prep",
]


def gen_corpus_batch(out, seed, size):
    """A corpus shaped like the engine's fixture corpus: short texts over a
    small technical vocabulary (so char-gram sets overlap, as in the
    fixtures), with planted exact copies and near-copies."""
    rng = np.random.default_rng([seed, 3])
    n = size["docs"]
    vocab = TECH_WORDS + STOP_WORDS
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:       # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.07:     # near copy: a few words replaced
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), size=k)))
    langs = [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)]
    sources = [f"src{j}" for j in rng.integers(0, 20, size=n)]
    pq.write_table(_doc_table(np.arange(n), texts, langs, sources), f"{out}/documents.parquet")
    pq.write_table(_embedding_table(rng, size["vecs"]), f"{out}/embeddings.parquet")
    seq = list(CORPUS_QUERIES)
    rng.shuffle(seq)
    with open(f"{out}/sequence.txt", "w") as f:
        f.write("\n".join(seq) + "\n")
    return dict(queries=seq)


GAMMA = 2654435761


def golden_bucket(doc_id, m):
    """graft.GoldenHash.bucket for non-negative ids."""
    return (doc_id * GAMMA) % m


def shingles(text, k=3):
    w = text.split(" ")
    return {" ".join(w[i:i + k]) for i in range(max(1, len(w) - k + 1))}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def gen_corpus_delta(out, seed, size):
    """At-rest corpus plus a pool of ingest micro-batches.

    Texts are drawn from a large pseudo-word vocabulary, so two unrelated
    documents share almost no character 3-grams and every near-duplicate
    relation is one the generator planted. Each batch mixes new documents,
    exact copies and near-copies (one word replaced: word 3-shingle
    Jaccard >= 0.9) at fixed shares; copies are of at-rest documents and
    of documents from earlier batches."""
    rng = np.random.default_rng([seed, 4])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(letters[rng.integers(0, 26, size=int(rng.integers(3, 9)))])
                    for _ in range(6000)})

    def text():
        return " ".join(vocab[j] for j in rng.integers(0, len(vocab), size=int(rng.integers(60, 90))))

    n = size["at_rest"]
    at_text = [text() for _ in range(n)]
    langs = [LANGS[j] for j in rng.choice(len(LANGS), size=n, p=LANG_P)]
    pq.write_table(_doc_table(np.arange(n), at_text, langs, [f"src{j % 20}" for j in range(n)]),
                   f"{out}/documents.parquet")
    pq.write_table(_embedding_table(rng, size["vecs"]), f"{out}/embeddings.parquet")
    # the stored split of the at-rest corpus: every at-rest doc is its own
    # cluster (the texts are unrelated), split by a seeded 80/10/10 draw
    at_split = rng.choice(["train", "val", "test"], size=n, p=[0.8, 0.1, 0.1])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "label": pa.array(np.arange(n), pa.int64()),
        "split": pa.array(at_split.tolist(), pa.string()),
    }), f"{out}/split.parquet")

    earlier = []   # (doc_id, text) of docs already generated into batches
    next_id = 10_000_000
    planted = []   # near/exact copies: (batch, doc_id, source id, kind)

    def batch(b, dirname):
        nonlocal next_id
        rows = []
        for _ in range(size["batch"]):
            r = rng.random()
            src_rest = rng.random() < 0.5 or not earlier
            if r < 0.40:
                if src_rest:
                    sid = int(rng.integers(0, n))
                    stext = at_text[sid]
                else:
                    sid, stext = earlier[int(rng.integers(0, len(earlier)))]
                if r < 0.15:
                    t, kind = stext, "exact"
                else:
                    w = stext.split(" ")
                    w[int(rng.integers(0, len(w)))] = vocab[int(rng.integers(0, len(vocab)))]
                    t, kind = " ".join(w), "near"
                planted.append(dict(batch=b, dir=dirname, doc_id=next_id, source=sid,
                                    kind=kind, at_rest=bool(src_rest),
                                    jaccard=jaccard(t, stext)))
            else:
                t = text()
            lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
            rows.append((next_id, t, lang))
            earlier.append((next_id, t))
            next_id += 1
        _, v = _embeddings(rng, rows)
        return pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "v": pa.array([list(map(float, x)) for x in v], pa.list_(pa.float64())),
        })

    for dirname, k in (("warmup", size["warmup"]), ("batches", size["batches"])):
        os.makedirs(f"{out}/{dirname}")
        for b in range(k):
            pq.write_table(batch(b, dirname), f"{out}/{dirname}/b{b:04d}.parquet")
    indexed = [hashlib.sha256(t.encode()).hexdigest()
               for i, t in enumerate(at_text) if golden_bucket(i, 20) != 7]
    return dict(planted=planted, at_rest=n, at_split=at_split.tolist(),
                at_rest_digests=sorted(set(indexed)))


GENERATORS = {
    "log_stream": gen_log_stream,
    "log_dashboard": gen_log_dashboard,
    "corpus_batch": gen_corpus_batch,
    "corpus_delta": gen_corpus_delta,
}


def generate(workload, seed, smoke, root):
    """Return (inputs dir, tallies), generating into a cache dir keyed by
    (workload, seed, size, this file) unless an earlier run already did."""
    size = (SMOKE if smoke else FULL)[workload]
    h = hashlib.sha256(json.dumps(size, sort_keys=True).encode())
    with open(__file__, "rb") as f:
        h.update(f.read())
    key = h.hexdigest()[:8]
    tag = f"{workload}-s{seed}-{key}"
    out = os.path.join(root, tag)
    done = os.path.join(out, "tallies.json")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(tmp)
        tallies = GENERATORS[workload](tmp, seed, size)
        with open(os.path.join(tmp, "tallies.json"), "w") as f:
            json.dump(tallies, f)
        os.rename(tmp, out)
    with open(done) as f:
        return out, json.load(f)
