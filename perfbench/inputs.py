"""Seeded input generators for the benchmark.

Everything the program reads is made here, inside the run's scratch dir:

- ``corpus``: the star-schema + text-corpus tables the registry queries and
  the nightly runbook read (``region`` .. ``events``, ``documents``,
  ``embeddings``), in the shape and value ranges of the sf0.001
  tables. ``documents.parquet`` is a directory of part files, so appending a
  slice is adding one part file (the nightly-crawl shape the
  append-incremental artifacts refresh from).
- ``warc``: a synthetic crawl of gzip-member WARC shards with HTML bodies
  (``graft.CrawlBench`` shape plus cross-host links, capture dates spread
  over days, and a few error captures).
- ``cpms_csvs``: the reference's star-schema CSVs (FIXTURES.md section 1:
  Python-literal child-id arrays, the ``hearth_rate`` spelling, zero
  orphans).

Same seed, same bytes (the parquet writer is pinned to one row group,
snappy, no statistics drift).
"""

import csv
import datetime as dt
import gzip
import io
import os
import random
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en"] * 9 + ["zh"] * 3 + ["es"] * 3 + ["de"] * 3 + ["fr"] * 3
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.001 row counts
CORPUS_ROWS = dict(customer=150, supplier=10, part=200, orders=1500,
                   events=1000, documents=500, embeddings=500)
EMBED_DIM = 64
N_SOURCES = 20


def _write(table, path):
    pq.write_table(table, path, compression="snappy",
                   row_group_size=max(1, table.num_rows))


def _ts(days_from, rng, n, start):
    base = np.datetime64(start, "us")
    off = rng.integers(0, days_from * 86400 * 10**6, n)
    return (base + off.astype("timedelta64[us]"))


def make_docs(rng, first_id, n):
    """n documents; ~5% are near-duplicates of an earlier doc of the same
    batch (the text plus a trailing ``dup`` token), as in the sf0.001
    corpus."""
    ids, texts, langs, sources = [], [], [], []
    for i in range(n):
        did = first_id + i
        if i > 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, len(texts)))]
            text = src + " dup"
        else:
            k = int(rng.integers(10, 100))
            text = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k))
        ids.append(did)
        texts.append(text)
        langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
        sources.append(f"src{did % N_SOURCES}")
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus(out, data_seed=42, shuffle_seed=None):
    """Write the corpus tables under ``out``. ``shuffle_seed`` (optional)
    permutes the physical row order of every table: same rows, another
    layout."""
    rng = np.random.default_rng(data_seed)
    os.makedirs(out, exist_ok=True)
    n = CORPUS_ROWS
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(c), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, c), 2)),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, c)])})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(s), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, s), 2))})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(p), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, p), rng.integers(0, 8, p))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, p)]),
        "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, p)]),
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": pa.array([round(900 + i * 0.1, 1) for i in range(p)])})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, c, o), pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, o)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, o), 2)),
        "o_orderdate": pa.array(
            np.datetime64("1995-01-01", "D") + rng.integers(0, 2404, o)
            .astype("timedelta64[D]")).cast(pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, o)])})
    lines = rng.integers(1, 8, o)
    lok = np.repeat(np.arange(o), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines])
    m = len(lok)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, p, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s, m), pa.int64()),
        "l_linenumber": pa.array(lno, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, m)]),
        "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, m)]),
        "l_shipdate": pa.array(
            np.datetime64("1995-01-02", "D") + rng.integers(0, 2497, m)
            .astype("timedelta64[D]")).cast(pa.timestamp("us"))})
    e = n["events"]
    tables["events"] = pa.table({
        "event_id": pa.array(range(e), pa.int64()),
        "ts": pa.array(np.sort(_ts(30, rng, e, "2024-01-01"))),
        "user_id": pa.array(rng.integers(0, 15, e), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, e)]),
        "value": pa.array(np.round(rng.exponential(50, e) + 0.01, 2)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, e)])})
    v = n["embeddings"]
    vec = rng.normal(size=(v, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(v), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    docs = make_docs(rng, 0, n["documents"])
    perm = np.random.default_rng(shuffle_seed) if shuffle_seed is not None else None
    for name, t in tables.items():
        if perm is not None:
            t = t.take(perm.permutation(t.num_rows))
        _write(t, os.path.join(out, f"{name}.parquet"))
    if perm is not None:
        docs = docs.take(perm.permutation(docs.num_rows))
    os.makedirs(os.path.join(out, "documents.parquet"), exist_ok=True)
    _write(docs, os.path.join(out, "documents.parquet", "part-00000.parquet"))
    return out


def append_docs(out, seed, n, first_id=100000, part=1):
    """One seeded slice of ``n`` documents as the part file ``part`` of a
    ``documents.parquet`` directory, written under ``out``."""
    rng = np.random.default_rng([seed, part])
    t = make_docs(rng, first_id, n)
    path = os.path.join(out, f"part-{part:05d}.parquet")
    _write(t, path)
    return path


# ---------------------------------------------------------------- WARC

def _html(f, m, hosts, members):
    links = "".join(
        f"<a href='http://host{(f + k) % hosts}.example/d/{(m * 7 + k) % members}'>"
        f"see w{(f * 3 + k) % 41}</a> " for k in range(1, 4))
    paras = "".join(
        f"<p>the paragraph {k} of document {f}-{m} has a run of words "
        f"w{(f * 7 + k) % 97} w{(m * 13 + k) % 89} and w{(k * 31) % 83} "
        f"of it &amp; more text to score.</p>" for k in range(12))
    return ("<html><head><meta charset=\"utf-8\"><title>Doc "
            f"{f}-{m}</title><style>p{{margin:0}}</style></head><body>"
            "<nav><a href='/'>Home</a> <a href='/a'>About</a></nav><article>"
            + paras + links +
            f"<script>var t = track({f});</script></article>"
            "<footer><a href='/t'>Terms</a></footer></body></html>")


def _record(uri, date, status, body, rid):
    block = (f"HTTP/1.1 {status}\r\nContent-Type: text/html; "
             f"charset=utf-8\r\n\r\n{body}").encode("utf-8")
    hdr = (f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {uri}\r\n"
           f"WARC-Date: {date}\r\nWARC-Record-ID: <urn:uuid:{rid}>\r\n"
           f"Content-Length: {len(block)}\r\n\r\n").encode("utf-8")
    return hdr + block + b"\r\n\r\n"


def _gz_member(b):
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as g:
        g.write(b)
    return buf.getvalue()


def warc_shard(path, shard, members, hosts, seed):
    """One ``.warc.gz`` shard of gzip members; record order and capture
    dates come from the seed."""
    rng = random.Random(f"{seed}-{shard}")
    order = list(range(members))
    rng.shuffle(order)
    out = bytearray()
    for m in order:
        f = shard
        uri = f"http://host{(f * members + m) % hosts}.example/d/{m}"
        day = 1 + (f + m) % 3
        date = f"2026-03-0{day}T0{m % 9}:00:00Z"
        if m % 53 == 52:
            rec = _record(uri, date, "404 Not Found", "<html>gone</html>",
                          f"{shard}-{m}")
        else:
            rec = _record(uri, date, "200 OK", _html(f, m, hosts, members),
                          f"{shard}-{m}")
        out += _gz_member(rec)
    with open(path, "wb") as fh:
        fh.write(bytes(out))
    return len(out)


def warc(out, shards, members, hosts, seed, first_shard=0):
    os.makedirs(out, exist_ok=True)
    total = 0
    for s in range(first_shard, first_shard + shards):
        total += warc_shard(os.path.join(out, f"shard-{s:05d}.warc.gz"),
                            s, members, hosts, seed)
    return total


# ---------------------------------------------------------------- CPMS

DIETS = ["Keto", "Omnivore", "Paleo", "Vegan", "Vegetarian"]
RISKS = ["Critical", "High", "Low", "Medium"]


def _uuid(rng):
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def cpms_csvs(out, seed, n_users):
    """users / cognitive_scores / tracking_risks CSVs in the reference
    layout; returns the user ids and the expected child counts."""
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    users, scores, risks = [], [], []
    t0 = dt.datetime(2023, 1, 1)
    for _ in range(n_users):
        uid = _uuid(rng)
        cs = [_uuid(rng) for _ in range(rng.randint(3, 9))]
        tr = [_uuid(rng) for _ in range(rng.randint(4, 10))]
        dob = dt.date(1960, 3, 4) + dt.timedelta(days=rng.randint(0, 16589))
        users.append([uid, dob.isoformat(), rng.choice(DIETS),
                      repr(cs), repr(tr)])
        for c in cs:
            ts = t0 + dt.timedelta(seconds=rng.randint(0, 92000000))
            scores.append([c, _uuid(rng), ts.isoformat(), rng.randint(1, 100)])
        for r in tr:
            ts = t0 + dt.timedelta(seconds=rng.randint(0, 92000000))
            risks.append([r, _uuid(rng), ts.isoformat(), rng.randint(11, 19956),
                          round(rng.uniform(0.01, 15.96), 2),
                          rng.randint(60, 180), rng.randint(501, 2998),
                          rng.choice(RISKS)])

    def w(name, header, rows):
        with open(os.path.join(out, name), "w", newline="") as fh:
            wr = csv.writer(fh)
            wr.writerow(header)
            wr.writerows(rows)
    w("users.csv", ["userId", "date_of_birth", "diet_type",
                    "cognitive_scores", "risk_trackings"], users)
    w("cognitive_scores.csv", ["cs_id", "event_id", "timestamp",
                               "cognitive_score"], scores)
    w("tracking_risks.csv", ["tr_id", "event_id", "timestamp", "steps",
                             "distance", "hearth_rate", "calories",
                             "risk_metric"], risks)
    return [u[0] for u in users], len(scores), len(risks)
