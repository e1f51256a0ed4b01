"""Output checks that do not import the engine's kernels.

* ``reference_sessions``: the SURVEY §2.6 decision procedure, one event at a
  time in a plain Python loop, over events in a given processing order.
* ``check_logs_batch`` / ``check_stream``: compare the engine's outputs with
  that reference.
* ``check_query``: run ``plans.ORACLES`` in DuckDB on the same parquet and
  compare value hashes, with the repository's own oracle canonicalization.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os

import numpy as np

GAP_S = 1800
MAX_EVENTS = 1499
MAX_DURATION_S = 43200


def reference_sessions(key: np.ndarray, ts_us: np.ndarray, order: np.ndarray):
    """Run the per-event procedure over ``order``; return per-event
    (session start µs, duration s) aligned with the input arrays.

    State per key is ``[start_us, first_s, last_s, count]``. A new session
    opens on: no state; ``ts - last > 30 min``; ``count + 1 >= 1500``;
    ``ts - first > 12 h`` (checked in that order). Otherwise ``last`` takes
    the max with ``ts`` (the out-of-order guard) and duration is
    ``ts - first``."""
    start = np.empty(len(key), dtype=np.int64)
    dur = np.empty(len(key), dtype=np.int64)
    state: dict = {}
    for i, k, us in zip(order.tolist(), key[order].tolist(), ts_us[order].tolist()):
        sec = us // 1_000_000
        st = state.get(k)
        if st is None or sec - st[2] > GAP_S or st[3] + 1 >= MAX_EVENTS + 1 or sec - st[1] > MAX_DURATION_S:
            st = state[k] = [us, sec, sec, 1]
            d = 0
        else:
            st[2] = max(st[2], sec)
            st[3] += 1
            d = sec - st[1]
        start[i] = st[0]
        dur[i] = d
    return start, dur


class CheckFailed(AssertionError):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def batch_expectation(ev) -> dict:
    """Per-client totals, per-session facts and drop count for ``logs_batch``
    (batch order: per client, by event time)."""
    ok = ~ev.malformed
    key, ts = ev.client[ok], ev.ts_us[ok]
    start, dur = reference_sessions(key, ts, np.lexsort((ts, key)))
    sess = {}
    for k, s, d in zip(key.tolist(), start.tolist(), dur.tolist()):
        cur = sess.get((k, s))
        sess[(k, s)] = d if cur is None or d > cur else cur
    totals: dict = {}
    for (k, _), d in sess.items():
        totals[k] = totals.get(k, 0) + d
    return {"totals": totals, "sessions": len(sess), "malformed": int(ev.malformed.sum()), "events": int(ok.sum())}


def check_logs_batch(exp: dict, addr: list, totals_rows, n_sessions: int, lines_in: int, rows_out: int) -> dict:
    """``totals_rows``: (ip, total_duration) pairs from ``user_total_durations``."""
    index = {a: i for i, a in enumerate(addr)}
    got = {index[ip]: int(t) for ip, t in totals_rows}
    _expect(lines_in - rows_out == exp["malformed"], f"malformed dropped {lines_in - rows_out} != {exp['malformed']}")
    _expect(rows_out == exp["events"], f"parsed rows {rows_out} != {exp['events']}")
    _expect(n_sessions == exp["sessions"], f"sessions {n_sessions} != {exp['sessions']}")
    bad = [k for k in exp["totals"] if got.get(k) != exp["totals"][k]]
    _expect(len(got) == len(exp["totals"]) and not bad, f"{len(bad)} client totals differ, e.g. {bad[:3]}")
    return {"clients": len(got), "sessions": n_sessions, "malformed_dropped": lines_in - rows_out}


def stream_expectation(ev, per_file: list) -> list:
    """Expected output lines for ``stream_replay``: the reference applied in
    arrival order (file by file; within a file, per client by event time,
    the engine's documented intra-batch order). Returns sorted
    ``"ip|timestamp|session_id|duration"`` strings."""
    from gen import _iso_stamps  # the generator's own timestamp rendering

    idx = np.concatenate([f[~ev.malformed[f]] for f in per_file])
    batch = np.concatenate([np.full(int((~ev.malformed[f]).sum()), b) for b, f in enumerate(per_file)])
    key, ts = ev.client[idx], ev.ts_us[idx]
    start, dur = reference_sessions(key, ts, np.lexsort((ts, key, batch)))
    stamps = _iso_stamps(ts).to_pylist()
    return sorted(
        f"{ev.addr[k]}|{s}|{ev.addr[k]}-{st}|{d}"
        for k, s, st, d in zip(key.tolist(), stamps, start.tolist(), dur.tolist())
    )


def read_json_sink(out_dir: str) -> list:
    rows = []
    for path in glob.glob(os.path.join(out_dir, "part-*")):
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                rows.append(f"{r['ip']}|{r['timestamp']}|{r['session_id']}|{r['duration']}")
    rows.sort()
    return rows


def check_stream(expected: list, out_dir: str, dropped_by_watermark: int, expected_dropped: int) -> dict:
    got = read_json_sink(out_dir)
    _expect(dropped_by_watermark == expected_dropped, f"numRowsDroppedByWatermark {dropped_by_watermark} != {expected_dropped}")
    _expect(len(got) == len(expected), f"output rows {len(got)} != expected {len(expected)}")
    diff = [(a, b) for a, b in zip(got, expected) if a != b]
    _expect(not diff, f"{len(diff)} output events differ from the reference (got, expected), e.g. {diff[:2]}")
    return {"events": len(got)}


# ---------------------------------------------------------------- query_mix


def _oracle_util():
    """The repository's oracle comparison, ``tests/oracle_util.py``, loaded
    by path as ``tools/verify_drive.py`` loads it, so that this check and
    the verify canonicalize rows the same way."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "oracle_util.py")
    spec = importlib.util.spec_from_file_location("oracle_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def check_query(name: str, spark_pdf, sql: str, table_dir: str) -> None:
    """Row count, column names and the order-insensitive value hash of the
    Spark result against ``sql`` run in DuckDB on the same parquet."""
    ou = _oracle_util()
    odf = ou.run_oracle(sql, table_dir)
    _expect(sorted(spark_pdf.columns) == sorted(odf.columns),
            f"{name}: columns {sorted(spark_pdf.columns)} != oracle {sorted(odf.columns)}")
    _expect(len(spark_pdf) == len(odf), f"{name}: rows {len(spark_pdf)} != oracle {len(odf)}")
    digest = [hashlib.sha256("\n".join(ou._canon(df)).encode()).hexdigest() for df in (spark_pdf, odf)]
    _expect(digest[0] == digest[1], f"{name}: value hash differs from the oracle")
