"""Seeded input generators. Pure numpy/pyarrow: no Spark and nothing
from the engine package, so the program under test only ever receives
the generated files.

Ingest: reference-shaped telemetry messages (one JSON object per Kafka
record, one field per cast branch of the sink schema) with a seeded
~2% fault mix. The generator labels every message with its fate, so
the expected valid / DLQ / dropped counts are known before the engine
sees a byte.

Corpus: the five tables the ``corpus_llm`` query set reads, at the
shape of the sf0.01 test fixture (TPC-H-ish customer/orders/lineitem,
a 30-word-vocabulary document corpus with 5% ``dup``-suffixed exact
copies, and 64-d unit embeddings with ten labels).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# one column per branch of the reference's cast logic
CH_COLUMNS = [
    ("device_id", "UInt32"),
    ("trip_id", "Int64"),
    ("speed", "Float32"),
    ("score", "Float64"),
    ("big_ctr", "UInt64"),
    ("device_uuid", "UUID"),
    ("event_name", "String"),
    ("gps_validity", "Enum8('valid'=1,'invalid'=2)"),
    ("incognito_mode", "Enum8('on'=1,'off'=2)"),
    ("mode_code", "Enum8('a'=1,'b'=2)"),
    ("event_ts", "DateTime"),
    ("event_date", "Date"),
]
REQUIRED = ["device_id", "event_ts"]
STRING_ENUMS = ["gps_validity", "incognito_mode"]
DATETIMES = ["event_ts", "event_date"]

# message fates; the fault classes are the four the reference handles
VALID, MALFORMED, MISSING_REQUIRED, TYPE_MISMATCH, TOMBSTONE = range(5)
FAULT_SHARE = 0.005  # per fault class: ~2% faulty in total
DROPPED = (MALFORMED, TOMBSTONE)
DLQ = (MISSING_REQUIRED, TYPE_MISMATCH)

_EPOCH = 1714521600  # 2024-05-01 00:00:00 UTC


def _s(arr) -> pa.Array:
    return pc.cast(pa.array(arr), pa.string())


def _choice(rng, options: list[str], n: int, p=None) -> pa.Array:
    return pa.array(options).take(pa.array(rng.choice(len(options), n, p=p)))


def ingest_messages(seed: int, start: int, n: int) -> tuple[pa.Array, np.ndarray]:
    """Messages ``start .. start+n`` of the stream for ``seed`` and their
    fates. Each call draws from its own generator keyed on
    (seed, start), so a backlog laid file by file is a pure function of
    the seed and the file layout."""
    rng = np.random.default_rng([seed, start])
    fate = rng.choice(
        5, size=n,
        p=[1 - 4 * FAULT_SHARE] + [FAULT_SHARE] * 4,
    ).astype(np.int8)
    device = rng.integers(0, 100_000, n)
    ts = _EPOCH + rng.integers(0, 86_400 * 30, n)
    score = _s(np.round(rng.random(n), 4))
    # 1% of otherwise-valid rows carry an explicit null: the sentinel path
    score = pc.if_else(pa.array(rng.random(n) < 0.01), "null", score)
    dev = _s(device)
    parts = [
        pc.if_else(
            pa.array(fate == MISSING_REQUIRED),
            '{"device":',  # required key absent, value kept
            '{"device_id":',
        ),
        pc.if_else(
            pa.array(fate == TYPE_MISMATCH),
            pc.binary_join_element_wise('"', dev, '"', ""),
            dev,
        ),
        ',"trip_id":', _s(rng.integers(0, 10**12, n)),
        ',"speed":', _s(np.round(rng.random(n) * 130, 2)),
        ',"score":', score,
        ',"big_ctr":', _s(rng.integers(0, 2**62, n)),
        ',"device_uuid":"uuid-', _s(rng.integers(0, 2**62, n)),
        '","event_name":"evt_', _s(rng.integers(0, 40, n)),
        '","gps_validity":"',
        _choice(rng, ["valid", "invalid"], n, [0.94, 0.06]),
        '","incognito_mode":"',
        _choice(rng, ["on", "off"], n),
        '","mode_code":', _s(rng.integers(1, 3, n)),
        ',"event_ts":"',
        _s(pa.array(ts, pa.timestamp("s"))),  # yyyy-MM-dd HH:mm:ss
        '","event_date":"',
        _s(pc.cast(pa.array(ts, pa.timestamp("s")), pa.date32())),
        '"}',
    ]
    msg = pc.binary_join_element_wise(*parts, "")
    msg = pc.if_else(
        pa.array(fate == MALFORMED),
        pc.binary_join_element_wise(msg, "{truncated", ""),
        msg,
    )
    msg = pc.if_else(pa.array(fate == TOMBSTONE), "", msg)
    return msg, fate


def expected_counts(fates: np.ndarray) -> dict[str, int]:
    return {
        "valid": int(np.count_nonzero(fates == VALID)),
        "dlq": int(np.isin(fates, DLQ).sum()),
        "dropped": int(np.isin(fates, DROPPED).sum()),
    }


def lay_backlog(
    intake: str, seed: int, triggers: int, rows_per_trigger: int,
    partitions: int,
) -> np.ndarray:
    """Write ``triggers`` × ``partitions`` parquet files (one ``value``
    column each) and return every message's fate in stream order.

    With ``maxFilesPerTrigger=partitions`` each trigger drains exactly
    one poll's worth: ``rows_per_trigger`` messages over ``partitions``
    files, the file twin of one poll of a ``partitions``-partition
    topic. File mtimes increase in stream order so the file source
    admits them in that order."""
    os.makedirs(intake, exist_ok=True)
    per_file, rest = divmod(rows_per_trigger, partitions)
    if rest:
        raise ValueError("rows_per_trigger must split evenly over partitions")
    fates = []
    base_ns = 1_700_000_000 * 10**9
    i = 0
    for t in range(triggers):
        for p in range(partitions):
            msg, fate = ingest_messages(seed, i * per_file, per_file)
            path = os.path.join(intake, f"t{t:05d}-p{p:02d}.parquet")
            pq.write_table(pa.table({"value": msg}), path)
            ns = base_ns + i * 10**6
            os.utime(path, ns=(ns, ns))
            fates.append(fate)
            i += 1
    return np.concatenate(fates)


# ---------------------------------------------------------------- corpus

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

# sf0.01 fixture row counts
N_CUSTOMER, N_ORDERS, N_LINEITEM = 1_500, 15_000, 60_000
N_DOCS, N_EMB, EMB_DIM = 500, 500, 64
CORPUS_TABLES = ("customer", "orders", "lineitem", "documents", "embeddings")


def _pick(rng, options, n, p=None) -> np.ndarray:
    return np.asarray(options, dtype=object)[rng.choice(len(options), n, p=p)]


def _dates(rng, n, lo="1995-01-01", days=2400) -> np.ndarray:
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]")


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """The query set's input tables for ``seed``: same sizes and value
    shapes for every seed, values decorrelated across seeds."""
    rng = np.random.default_rng([seed, 0xC0])
    t = {}
    t["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, N_ORDERS), 2),
        "o_orderdate": _dates(rng, N_ORDERS),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM),
        "l_partkey": rng.integers(0, 2000, N_LINEITEM),
        "l_suppkey": rng.integers(0, 100, N_LINEITEM),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, N_LINEITEM), 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
        "l_shipdate": _dates(rng, N_LINEITEM),
    })
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        for _ in range(N_DOCS)
    ]
    # 5%: an exact copy of an earlier document with a marker word
    for i in rng.choice(np.arange(1, N_DOCS), N_DOCS // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS, LANG_P),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((N_EMB, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(N_EMB, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMB).astype(np.int32),
    })
    return t


def write_corpus(out_dir: str, seed: int) -> dict[str, int]:
    """Write the corpus for ``seed`` as ``<table>.parquet`` files and
    return each table's row count."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in corpus_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
