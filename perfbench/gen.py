"""Seeded input generators for the benchmark, with an atomic on-disk cache.

Every input the program sees is produced here from ``--seed``:

- ``event_tick``: one cron tick of Kafka-envelope parquet files, one file
  per simulated topic-partition, whose ``value`` carries JSON events with
  Zipf-skewed user keys and a fixed planted share of malformed payloads.
- ``corpus``: a ``documents``/``embeddings`` directory in the fixture
  schemas with planted near-duplicate clusters.
- ``star``: a TPC-H-shaped star schema plus ``events`` in the fixture
  schemas, at the sf0.1 row counts.

Ground truth (clean events, planted pairs) is written next to the inputs
under ``truth/``; the program never reads it.

Cache entries are keyed by a hash of this file's source, the seed and the
size, built in a temporary directory and published with one atomic
rename, so an edited generator never serves stale input and two
concurrent runs never see a half-written entry.

``python3 perfbench/gen.py --check`` verifies determinism: the same seed
gives byte-identical files, a different seed gives different files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Traffic shape of the event ticks. TICK_ROWS was chosen from a measured
# cost split, VALUE_MEAN and the uniform EVENT_TYPES match the fixture
# events table; the rest are assumptions (README: "Input assumptions").
PARTITIONS = 8            # simulated topic-partitions, one file each per tick
TICK_ROWS = 40_000        # events per cron tick, across all partitions
MALFORMED_SHARE = 0.01    # planted undecodable payloads per tick
N_USERS = 20_000
ZIPF_S = 1.1              # user-key skew
TICK_SPAN_US = 3_600_000_000       # event time covered by one tick (1 h)
MAX_LATENESS_US = 1_800_000_000    # out-of-order by up to 30 min (< 2 h watermark)
LATE_SHARE = 0.2
VALUE_MEAN = 50.0         # event values are exponential with this mean
EPOCH_2024_US = 1_704_067_200_000_000
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])

N_DOCS = 3_000
N_EMB = 2_000
EMB_DIM = 64
N_LABELS = 10
CLUSTER_SHARE = 0.08      # share of docs that seed a near-duplicate cluster
EXACT_SHARE = 0.02        # share of docs that are verbatim copies
# The fixture vocabulary (the hybrid-search query terms live in it),
# extended with a Zipf-weighted tail so term frequencies are skewed.
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
TAIL_WORDS = [f"{a}{b}{c}" for a in ("lo", "ka", "mi", "te", "ru", "zo", "pe", "na")
              for b in ("r", "v", "d", "x", "s", "q", "m", "t")
              for c in ("an", "el", "or", "ix", "un", "ua", "er", "ol")]

STAR_ROWS = {"supplier": 1_000, "customer": 15_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000}

_SOURCE_HASH = hashlib.sha256(open(__file__, "rb").read()).hexdigest()[:12]
_KEEP_ENTRIES = 3         # cache entries kept per input kind


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# --------------------------------------------------------------------------
# cache

def _entry_dir(cache_root: str, kind: str, seed: int, size: str) -> str:
    key = hashlib.sha256(f"{_SOURCE_HASH}|{kind}|{seed}|{size}".encode()).hexdigest()[:16]
    return os.path.join(cache_root, f"{kind}-{key}")


def _publish(build, final: str) -> str:
    """Run ``build(tmpdir)`` and atomically rename the result to ``final``.
    If another process published first, keep its copy."""
    if os.path.isdir(final):
        os.utime(final)
        return final
    parent = os.path.dirname(final)
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".tmp-", dir=parent)
    try:
        build(tmp)
        os.rename(tmp, final)
    except OSError:
        if not os.path.isdir(final):
            raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _evict(cache_root: str, kind: str, keep: str) -> None:
    """Keep the most recently used entries of one kind; inputs change with
    every seed, so an unbounded cache would fill the checkout."""
    entries = [os.path.join(cache_root, d) for d in os.listdir(cache_root)
               if d.startswith(kind + "-")]
    entries.sort(key=os.path.getmtime, reverse=True)
    for old in entries[_KEEP_ENTRIES:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


def cached(cache_root: str, kind: str, seed: int, size: str, build) -> str:
    final = _publish(build, _entry_dir(cache_root, kind, seed, size))
    _evict(cache_root, kind, final)
    return final


def digest(path: str) -> str:
    """sha256 over every file's relative path and bytes, in sorted order."""
    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(root, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


# --------------------------------------------------------------------------
# event ticks (ingest_cron, stream_stateful)

ENVELOPE_DDL = ("key BINARY, value BINARY, topic STRING, partition INT, "
                "offset BIGINT, timestamp TIMESTAMP, timestampType INT")
EVENT_DDL = ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, "
             "value DOUBLE, props STRING")


def _zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = np.arange(1, N_USERS + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    return rng.choice(N_USERS, size=n, p=p)


def _build_tick(seed: int, tick: int, out: str) -> None:
    rng = _rng(seed, 1, tick)
    n = TICK_ROWS
    # user ids come from a per-seed permutation of the Zipf ranks, while
    # a key's partition follows its rank: the skew between partitions is
    # the same for every seed, so seeds do not change how uneven tasks are
    ranks = _zipf_users(rng, n)
    users = _rng(seed, 0).permutation(N_USERS)[ranks].astype(np.int64)
    event_id = tick * n + np.arange(n, dtype=np.int64)
    etype = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]
    base = EPOCH_2024_US + tick * TICK_SPAN_US
    ts = base + rng.integers(0, TICK_SPAN_US, n)
    late = rng.random(n) < LATE_SHARE
    ts = np.where(late, ts - rng.integers(0, MAX_LATENESS_US, n), ts)
    ts = ts - ts % 1000               # payload carries millisecond precision
    value = np.round(rng.exponential(VALUE_MEAN, n), 2)
    props = rng.integers(0, 100, n)
    ts_txt = np.datetime_as_string(ts.astype("datetime64[us]"), unit="ms")
    payloads = [
        f'{{"event_id":{e},"ts":"{t}Z","user_id":{u},"event_type":"{k}",'
        f'"value":{v!r},"props":"k={p}"}}'
        for e, t, u, k, v, p in zip(event_id.tolist(), ts_txt.tolist(),
                                    users.tolist(), etype.tolist(),
                                    value.tolist(), props.tolist())
    ]
    bad = np.sort(rng.choice(n, size=int(n * MALFORMED_SHARE), replace=False))
    for j, i in enumerate(bad.tolist()):
        # truncated JSON and non-JSON bytes, the two shapes a broker delivers
        payloads[i] = payloads[i][: len(payloads[i]) // 2] if j % 2 else f"\x00garbage-{i}"
    clean = np.ones(n, dtype=bool)
    clean[bad] = False

    part = ranks % PARTITIONS
    producer_ts = ts + rng.integers(1_000, 50_000, n)
    os.makedirs(os.path.join(out, "files"))
    os.makedirs(os.path.join(out, "truth"))
    for p in range(PARTITIONS):
        idx = np.nonzero(part == p)[0]
        tbl = pa.table({
            "key": pa.array([str(u).encode() for u in users[idx].tolist()], pa.binary()),
            "value": pa.array([payloads[i].encode() for i in idx.tolist()], pa.binary()),
            "topic": pa.array(["events"] * len(idx), pa.string()),
            "partition": pa.array(np.full(len(idx), p, dtype=np.int32)),
            # monotone per partition across ticks, with gaps (as after compaction)
            "offset": pa.array(tick * n + np.arange(len(idx), dtype=np.int64)),
            "timestamp": pa.array(producer_ts[idx], pa.timestamp("us", tz="UTC")),
            "timestampType": pa.array(np.zeros(len(idx), dtype=np.int32)),
        })
        pq.write_table(tbl, os.path.join(out, "files", f"p{p}-t{tick:05d}.parquet"))
    truth = pa.table({
        "event_id": event_id[clean],
        "ts_us": ts[clean],
        "user_id": users[clean],
        "event_type": etype[clean],
        "value": value[clean],
    })
    pq.write_table(truth, os.path.join(out, "truth", "events.parquet"))
    with open(os.path.join(out, "truth", "meta.json"), "w") as f:
        json.dump({"rows": n, "malformed": int(len(bad))}, f)


def event_tick(cache_root: str, seed: int, tick: int) -> str:
    """Cached tick directory: ``files/`` (envelopes) and ``truth/``."""
    return cached(cache_root, f"tick{tick:05d}", seed, f"{TICK_ROWS}x{PARTITIONS}",
                  lambda d: _build_tick(seed, tick, d))


# --------------------------------------------------------------------------
# document corpus (query_mix, curation keys)

def _build_corpus(seed: int, out: str) -> None:
    rng = _rng(seed, 2)
    vocab = np.array(BASE_WORDS + TAIL_WORDS)
    w = np.concatenate([np.full(len(BASE_WORDS), 0.02),
                        1.0 / np.arange(1, len(TAIL_WORDS) + 1) ** 0.9])
    w /= w.sum()
    lengths = rng.integers(20, 101, N_DOCS)
    words = vocab[rng.choice(len(vocab), size=int(lengths.sum()), p=w)]
    docs = np.split(words, np.cumsum(lengths)[:-1])
    docs = [list(d) for d in docs]

    # planted clusters: each member is its base with one word replaced;
    # bases are long, so every in-cluster pair stays well above J = 0.6
    order = rng.permutation(N_DOCS)
    n_bases = int(N_DOCS * CLUSTER_SHARE / 3)
    bases = [int(i) for i in order if len(docs[i]) >= 70][:n_bases]
    taken = set(bases)
    free = [int(i) for i in order if int(i) not in taken]
    cluster_of: dict[int, int] = {}
    k = 0
    for c, b in enumerate(bases):
        cluster_of[b] = c
        for _ in range(int(rng.integers(1, 4))):
            m = free[k]
            k += 1
            d = list(docs[b])
            d[int(rng.integers(0, len(d)))] = str(vocab[rng.integers(0, len(vocab))])
            docs[m] = d
            cluster_of[m] = c
    n_exact = int(N_DOCS * EXACT_SHARE)
    for _ in range(n_exact):
        src, m = free[k], free[k + 1]
        k += 2
        docs[m] = list(docs[src])
        c = cluster_of.setdefault(src, len(bases) + k)
        cluster_of[m] = c

    text = [" ".join(d) for d in docs]
    langs = np.array(["en", "zh", "de", "fr", "es"])
    documents = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(langs[rng.choice(5, N_DOCS, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, N_DOCS).tolist()]),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })

    centers = rng.standard_normal((N_LABELS, EMB_DIM))
    labels = rng.integers(0, N_LABELS, N_EMB)
    vec = centers[labels] + 0.6 * rng.standard_normal((N_EMB, EMB_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(N_EMB, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMB_DIM)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(documents, os.path.join(out, "documents.parquet"))
    pq.write_table(embeddings, os.path.join(out, "embeddings.parquet"))

    members: dict[int, list[int]] = {}
    for d, c in cluster_of.items():
        members.setdefault(c, []).append(d)
    pairs = sorted((a, b) for ms in members.values()
                   for a in ms for b in ms if a < b)
    os.makedirs(os.path.join(out, "truth"))
    pq.write_table(pa.table({"doc1": pa.array([a for a, _ in pairs], pa.int64()),
                             "doc2": pa.array([b for _, b in pairs], pa.int64())}),
                   os.path.join(out, "truth", "planted_pairs.parquet"))


def corpus(cache_root: str, seed: int) -> str:
    return cached(cache_root, "corpus", seed, f"{N_DOCS}x{N_EMB}",
                  lambda d: _build_corpus(seed, d))


# --------------------------------------------------------------------------
# star schema (query_mix, OLAP keys)

def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array((rng.integers(lo, hi + 1, n) * 86_400_000), pa.timestamp("ms"))


def _build_star(seed: int, out: str) -> None:
    rng = _rng(seed, 3)
    n = STAR_ROWS
    w = lambda name, t: pq.write_table(t, os.path.join(out, f"{name}.parquet"))  # noqa: E731
    w("region", pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    w("nation", pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}))
    w("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    w("customer", pa.table({
        "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])]}))
    adj = np.array(["red", "blue", "hot", "cold", "old", "small", "large", "green"])
    noun = np.array(["widget", "gizmo", "anvil", "ring", "plate", "rod", "bolt", "gear"])
    np_ = n["part"]
    w("part", pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, np_)], " "),
                              noun[rng.integers(0, 8, np_)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": np.array(["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL",
                            "MEDIUM"])[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 2)}))
    no = n["orders"]
    w("orders", pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no).astype(np.int64)),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, no)]}))
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    flags = np.array([("R", "O"), ("A", "O"), ("N", "F"), ("N", "O"), ("A", "F"), ("R", "F")])
    f = flags[rng.integers(0, 6, nl)]
    w("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": f[:, 0],
        "l_linestatus": f[:, 1],
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04")}))
    ne = n["events"]
    ts = np.sort(EPOCH_2024_US + rng.integers(0, 30 * 86_400_000_000, ne))
    w("events", pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne).astype(np.int64)),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(VALUE_MEAN, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne).tolist()]}))


def star(cache_root: str, seed: int) -> str:
    return cached(cache_root, "star", seed,
                  ",".join(f"{k}={v}" for k, v in sorted(STAR_ROWS.items())),
                  lambda d: _build_star(seed, d))


# --------------------------------------------------------------------------

def _check(seed: int) -> int:
    """Build every input kind for ``seed`` twice and for ``seed + 1`` once,
    outside the cache, and compare digests."""
    makers = {
        "tick": lambda s, d: _build_tick(s, 0, d),
        "corpus": _build_corpus,
        "star": _build_star,
    }
    failures = 0
    with tempfile.TemporaryDirectory(dir=os.path.dirname(os.path.abspath(__file__))) as tmp:
        for kind, build in makers.items():
            digests = []
            for i, s in enumerate((seed, seed, seed + 1)):
                d = os.path.join(tmp, f"{kind}-{i}")
                os.makedirs(d)
                build(s, d)
                digests.append(digest(d))
            same, differ = digests[0] == digests[1], digests[0] != digests[2]
            failures += (not same) + (not differ)
            print(f"{kind}: same seed identical={same} other seed differs={differ} "
                  f"sha256={digests[0][:16]}")
    return 1 if failures else 0


if __name__ == "__main__":
    if sys.argv[1:2] != ["--check"]:
        sys.exit("usage: python3 perfbench/gen.py --check [seed]")
    sys.exit(_check(int(sys.argv[2]) if len(sys.argv) > 2 else 1))
