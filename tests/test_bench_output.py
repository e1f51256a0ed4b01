"""The driver parses bench's FINAL stdout line out of a ~2000-char tail
capture. BENCH_r04/BENCH_r05 exceeded it (`"parsed": null` — two rounds of
numbers invisible to the grader), so the compact line's size is now an
invariant, pinned here against the real headline set plus headroom."""

import json

import bench


def _detail(query_names) -> dict:
    d = {
        "metric": "headline query wall time (noop-sink forced), warm session",
        "value": 123.456,
        "unit": "sec",
        "queries": {n: round(0.123 + i * 0.017, 3) for i, n in enumerate(query_names)},
        "sf": "/root/testdata/sf0.1",
        "headline_runs_per_query": 2,
        "headline_query_runs": {
            n: [round(0.123 + i * 0.017, 3), round(0.145 + i * 0.019, 3)]
            for i, n in enumerate(query_names)
        },
        "headline_query_spread": {
            n: round(0.02 + (i % 7) * 0.013, 3) for i, n in enumerate(query_names)
        },
        "headline_spread_median": 0.059,
        "headline_spread_max": 0.43,
        "headline_total_worst_sec": 139.017,
        "events_per_sec_sessionize": 237530,
        "events_per_sec_sessionize_sustained_10x": 1409752,
        "events_per_sec_sessionize_sustained_100x": 1387001,
        "sessionize_100x_ratio_vs_linear": 0.71,
        "events_per_sec_sessionize_hotkey_500k_1key": 898419,
        "events_per_sec_sessionize_streaming_1m_wall": 205242,
        "events_per_sec_sessionize_streaming_steady": 210261,
        "events_per_sec_sessionize_streaming_steady_runs": [1, 2, 3],
        "events_per_sec_sessionize_streaming_steady_spread": 0.05,
        "events_per_sec_streaming_dedup_wall": 261281,
        "events_per_sec_streaming_dedup_steady": 268456,
        "events_per_sec_streaming_dedup_steady_runs": [1, 2, 3],
        "events_per_sec_streaming_dedup_steady_spread": 0.05,
        "streaming_data_batches": 4,
    }
    for fam in (
        "minhash", "minhash_linear", "cc", "containment", "global_rank",
        "line_dedup", "novelty", "substring", "winnow", "incremental_probe",
    ):
        d[f"scale_smoke_{fam}_1x_sec"] = 0.887
        d[f"scale_smoke_{fam}_10x_sec"] = 3.473
        d[f"scale_smoke_{fam}_10x_ratio_vs_linear"] = 0.391
    d["scale_smoke_10x_ratio_vs_linear"] = 0.956  # legacy clique-growth key
    return d


def test_compact_line_keeps_every_headline_query_at_current_scale():
    names = list(bench.HEADLINE)
    detail = _detail(names)
    full, compact = bench.compose_output(detail)
    assert len(compact) <= bench.TAIL_BUDGET
    parsed = json.loads(compact)
    assert parsed["value"] == 123.456
    assert parsed["unit"] == "sec"
    assert set(parsed["queries"]) == set(names)
    assert parsed["eps"]["batch"] == 237530
    # the full line keeps everything verbatim
    assert json.loads(full) == detail


def test_compact_line_prefers_eps_over_fastest_queries_with_headroom():
    # five typical-length future additions push past the budget: the
    # fastest query rows drop (they live on in BENCH_DETAIL.json), the
    # throughput section does not
    names = list(bench.HEADLINE) + [f"future_round7_query_{i}" for i in range(5)]
    _, compact = bench.compose_output(_detail(names))
    assert len(compact) <= bench.TAIL_BUDGET
    parsed = json.loads(compact)
    assert parsed["eps"]["batch"] == 237530
    assert len(parsed["queries"]) >= len(names) - 10
    # what survives is the slowest (most informative) end of the table
    slowest = max(parsed["queries"], key=parsed["queries"].get)
    assert parsed["queries"][slowest] == max(
        round(v, 2) for v in _detail(names)["queries"].values()
    )


def test_compact_line_keeps_smoke_evidence_at_exact_current_scale():
    _, compact = bench.compose_output(_detail(list(bench.HEADLINE)))
    parsed = json.loads(compact)
    # with today's exact headline set, smoke evidence survives: the full
    # per-family dict if it fits, else the one-number worst-case summary —
    # only past that does smoke drop entirely as the registry grows
    if "smoke10x_vs_linear" in parsed:
        assert parsed["smoke10x_vs_linear"]["iprobe"] == 0.39
    else:
        assert parsed["smoke10x_vs_linear_worst"] == 0.96  # the clique family


def test_compact_line_degrades_but_stays_parseable_at_triple_scale():
    names = [f"some_rather_long_query_name_{i:03d}" for i in range(3 * len(bench.HEADLINE))]
    _, compact = bench.compose_output(_detail(names))
    assert len(compact) <= bench.TAIL_BUDGET
    parsed = json.loads(compact)
    assert parsed["queries"]  # something survives, still parseable
    assert parsed["value"] == 123.456
