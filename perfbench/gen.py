"""Seeded input generators for the benchmark (numpy + pyarrow, one process).

Everything here is a pure function of ``(seed, knobs)``: the same seed gives
byte-identical files. The engine only ever sees the files written here.

* ``log_events`` / ``write_log_files``: ELB-style access-log lines, 15
  space-separated fields, ISO timestamp in field 0 and ``client:port`` in
  field 2 (the reference's input shape).
* ``write_stream_files``: the same traffic cut into one file per
  micro-batch, with a share of lines delivered one file late.
* ``write_tables``: the parquet tables the ``query_mix`` registry queries
  read, with the same column names and types as the repository's test data.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0_US = 1_437_555_628_019_143  # 2015-07-22T09:00:28.019143Z, the reference's baseline
DAY_US = 86_400 * 1_000_000


@dataclass(frozen=True)
class LogKnobs:
    n_lines: int
    n_clients: int = 50_000
    zipf_s: float = 0.8  # activity ∝ rank^-s
    hot_share: float = 0.02  # share of events from the hot clients
    n_hot: int = 4
    malformed_share: float = 0.02
    late_share: float = 0.01  # streaming only: lines delivered one file late
    days: float = 3.0


@dataclass
class LogEvents:
    client: np.ndarray  # int64 client index, sorted by ts
    ts_us: np.ndarray  # int64 epoch micros, unique per client
    malformed: np.ndarray  # bool: rendered with 14 fields
    addr: list  # client index -> "ip:port"


def _client_addr(c: int) -> str:
    return f"10.{(c >> 16) & 255}.{(c >> 8) & 255}.{c & 255}:{1024 + (c * 7919) % 60000}"


def log_events(seed: int, k: LogKnobs) -> LogEvents:
    """Zipf-skewed clients over ``k.days`` of event time, plus ``k.n_hot``
    hot clients (shares 4:3:2:1 for four) dense enough to trip both session
    caps: hot client 0 sends everything in one 2-hour burst (more than 1499
    events inside the 30-minute gap, so the size cap fires); the others
    send thinly but continuously over the whole span (so the 12 h cap
    fires)."""
    rng = np.random.default_rng(seed)
    span = int(k.days * DAY_US)
    n_hot_ev = int(k.n_lines * k.hot_share)
    n_bg = k.n_lines - n_hot_ev

    ranks = np.arange(1, k.n_clients - k.n_hot + 1, dtype=np.float64)
    p = ranks ** -k.zipf_s
    p /= p.sum()
    perm = rng.permutation(k.n_clients - k.n_hot) + k.n_hot  # hot clients are 0..n_hot-1
    bg_client = perm[rng.choice(len(p), size=n_bg, p=p)]
    bg_ts = rng.integers(0, span, size=n_bg)

    w = np.arange(k.n_hot, 0, -1, dtype=np.float64)
    per_hot = (n_hot_ev * w / w.sum()).astype(np.int64)
    burst_us = 2 * 3600 * 1_000_000
    b0 = int(rng.integers(0, span - burst_us))
    hot_ts = [b0 + rng.integers(0, burst_us, size=per_hot[0])]
    hot_ts += [rng.integers(0, span, size=n) for n in per_hot[1:]]
    hot_client = [np.full(n, h, dtype=np.int64) for h, n in enumerate(per_hot)]
    client = np.concatenate([bg_client.astype(np.int64), *hot_client])
    ts = np.concatenate([bg_ts, *hot_ts]).astype(np.int64)
    pad = k.n_lines - len(client)  # rounding remainder goes to background
    if pad:
        client = np.concatenate([client, perm[rng.choice(len(p), size=pad, p=p)]])
        ts = np.concatenate([ts, rng.integers(0, span, size=pad)])

    # unique (client, µs): bump duplicates by 1 µs until none remain
    while True:
        order = np.lexsort((ts, client))
        c, t = client[order], ts[order]
        dup = np.flatnonzero((c[1:] == c[:-1]) & (t[1:] == t[:-1])) + 1
        if len(dup) == 0:
            break
        t[dup] += 1
        client, ts = c, t
    ts = ts + T0_US
    order = np.lexsort((client, ts))
    client, ts = client[order], ts[order]
    malformed = rng.random(k.n_lines) < k.malformed_share
    return LogEvents(client, ts, malformed, [_client_addr(c) for c in range(k.n_clients)])


_AGENTS = [f"Mozilla/5.0_(agent{i})" for i in range(40)]
_PATHS = [f"GET:https://shop.example.com:443/p/{i}?ref={i % 13}:HTTP/1.1" for i in range(2000)]


_HMS = pa.array([f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(86_400)])


def _iso_stamps(ts_us: np.ndarray) -> pa.Array:
    """Epoch micros -> ``YYYY-MM-DDTHH:MM:SS.ffffffZ`` (table lookups; pyarrow's
    strftime is ~10x slower)."""
    day = ts_us // DAY_US
    d0 = int(day.min())
    days = pa.array(np.arange(d0, int(day.max()) + 1).astype("datetime64[D]").astype(str))
    frac = pc.utf8_lpad(pc.cast(pa.array(ts_us % 1_000_000), pa.string()), 6, "0")
    hms = _HMS.take(pa.array(ts_us // 1_000_000 % 86_400))
    return pc.binary_join_element_wise(days.take(pa.array(day - d0)), "T", hms, ".", frac, "Z", "")


def render_lines(ev: LogEvents, idx: np.ndarray, rng: np.random.Generator) -> pa.Array:
    """Render events ``idx`` as newline-terminated 15-field lines (14 for
    the malformed ones: the last field is left out)."""
    n = len(idx)
    stamp = _iso_stamps(ev.ts_us[idx])
    addr = pa.array(ev.addr).take(pa.array(ev.client[idx]))
    backend = pa.array([f"10.1.0.{i}:80" for i in range(16)]).take(pa.array(rng.integers(0, 16, n)))

    def num(lo, hi, scale):
        return pc.cast(pa.array(rng.integers(lo, hi, n) / scale), pa.string())

    status = pa.array(["200", "200", "200", "304", "404", "500"]).take(pa.array(rng.integers(0, 6, n)))
    last = pa.array(np.where(ev.malformed[idx], None, "TLSv1.2"), pa.string())
    fields = [
        stamp,
        pa.array(["elb-1"] * n),
        addr,
        backend,
        num(10, 90, 1e6),
        num(100, 90000, 1e6),
        num(10, 90, 1e6),
        status,
        status,
        num(0, 2000, 1),
        num(100, 90000, 1),
        pa.array(_PATHS).take(pa.array(rng.integers(0, len(_PATHS), n))),
        pa.array(_AGENTS).take(pa.array(rng.integers(0, len(_AGENTS), n))),
        pa.array(["ECDHE-RSA-AES128-GCM-SHA256"] * n),
        last,
    ]
    line = pc.binary_join_element_wise(*fields, " ", null_handling="skip")
    return pc.binary_join_element_wise(line, "\n", "")


def _write_text(path: str, lines: pa.Array) -> None:
    lines = pa.concat_arrays([lines]) if lines.offset else lines
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)
    data = lines.buffers()[2]
    with open(path, "wb") as f:
        f.write(memoryview(data)[offsets[0] : offsets[len(lines)]])


def write_log_files(seed: int, k: LogKnobs, out_dir: str, n_files: int) -> LogEvents:
    """Write the traffic as ``n_files`` time-ordered text files."""
    ev = log_events(seed, k)
    rng = np.random.default_rng(seed + 1)
    os.makedirs(out_dir, exist_ok=True)
    for i, idx in enumerate(np.array_split(np.arange(k.n_lines), n_files)):
        _write_text(os.path.join(out_dir, f"part-{i:04d}.log"), render_lines(ev, idx, rng))
    return ev


def write_stream_files(seed: int, k: LogKnobs, out_dir: str, n_files: int) -> tuple[LogEvents, list]:
    """Write the traffic as ``n_files`` files, one per micro-batch, in
    arrival order (file mtimes increase with the index). ``k.late_share`` of
    the lines move to the next file: half come from the last 60 s of event
    time of their own file (still inside the 60 s watermark when they
    arrive), half from anywhere in it (beyond the watermark).

    Returns the events and, per file, the event indices it holds."""
    ev = log_events(seed, k)
    rng = np.random.default_rng(seed + 2)
    chunks = np.array_split(np.arange(k.n_lines), n_files)
    n_late = int(k.n_lines * k.late_share / (n_files - 1) / 2)
    files = [list() for _ in range(n_files)]
    for i, idx in enumerate(chunks):
        keep = np.ones(len(idx), dtype=bool)
        if i < n_files - 1:
            tail = np.flatnonzero(ev.ts_us[idx] > ev.ts_us[idx[-1]] - 60_000_000)
            near = rng.choice(tail, size=min(n_late, len(tail)), replace=False)
            far = rng.choice(np.flatnonzero(ev.ts_us[idx] < ev.ts_us[idx[-1]] - 120_000_000), size=n_late, replace=False)
            keep[near] = keep[far] = False
            files[i + 1].append(idx[~keep])
        files[i].insert(0, idx[keep])
    os.makedirs(out_dir, exist_ok=True)
    per_file = []
    for i, parts in enumerate(files):
        idx = np.concatenate(parts)
        per_file.append(idx)
        path = os.path.join(out_dir, f"batch-{i:04d}.log")
        _write_text(path, render_lines(ev, idx, rng))
        os.utime(path, (1_600_000_000 + i, 1_600_000_000 + i))
    return ev, per_file


# ---------------------------------------------------------------- query_mix tables

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark line sort window "
    "group big small data vector join index shard token model train eval loss grad"
).split()


def write_tables(seed: int, out_dir: str, scale: float) -> dict:
    """The registry tables at ``scale`` (1.0 = lineitem 600 k rows), with the
    column names and types of the repository's parquet test data. Returns
    row counts per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord, n_li = int(150_000 * scale), int(1_500_000 * scale), int(6_000_000 * scale)
    n_supp, n_part, n_ev, n_doc = int(10_000 * scale), int(200_000 * scale), int(1_000_000 * scale), int(50_000 * scale)
    n_users = max(int(1500 * scale), 50)
    day = np.datetime64("1995-01-01", "us")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    t = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}
    t["nation"] = {"n_nationkey": np.arange(25, dtype=np.int32), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": (np.arange(25) % 5).astype(np.int32)}
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    colors, things = ["red", "blue", "green", "black", "white", "small", "large", "steel"], ["ring", "widget", "bolt", "plate", "gear", "nut", "pipe", "valve"]
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[a]} {things[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500000, n_ord),
        "o_orderdate": day + rng.integers(0, 2404, n_ord).astype("timedelta64[D]"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": day + rng.integers(1, 2405, n_li).astype("timedelta64[D]"),
    }
    ev_ts = np.sort(np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * DAY_US, n_ev).astype("timedelta64[us]"))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["view", "click", "purchase", "signup", "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    }
    words = np.array(_WORDS)
    lens = rng.integers(10, 90, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    # near-duplicates: a tenth of documents copy an earlier one with one word changed
    for i in rng.choice(np.arange(1, n_doc), size=n_doc // 10, replace=False):
        src = texts[int(rng.integers(0, i))].split(" ")
        src[int(rng.integers(0, len(src)))] = str(words[rng.integers(0, len(words))])
        texts[i] = " ".join(src)
    t["documents"] = {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "en", "de", "fr", "es", "ja"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    n_vec = max(int(20_000 * scale), 200)
    emb = rng.standard_normal((n_vec, 16)).astype(np.float32)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 16).cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vec).astype(np.int32),
    }
    counts = {}
    for name, cols in t.items():
        table = pa.table({c: (v if isinstance(v, pa.Array) else pa.array(v)) for c, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
