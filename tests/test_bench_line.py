"""bench.py's final stdout line must fit the 2000-byte tail its reader keeps."""

from __future__ import annotations


def test_bench_final_line_fits_the_driver_tail_window():
    """The driver keeps only the last 2000 bytes of bench stdout
    (BENCH_r14/r15 'tail' are exactly 2000 chars; r06's inlined
    per-query maps overflowed it and parsed=null). The FINAL compact
    line must always fit; the per-query maps ride a separate preceding
    line. Pin the final line's shape below the window with worst-case
    field widths."""
    import json

    worst = {
        "metric": "headline_queries_total",
        "value": 99999.999,
        "unit": "sec",
        "stat": "median_of_3",
        "n_queries": 85,
        "min_total": 99999.999,
        "cold_total": 99999.999,
        "ann_build_sec": 99999.999,
        "wall_sec": 99999.999,
        "sf": 0.001,
        "common_subset_vs_prev": 99.999,
        "common_subset_vs_prev_min": 99.999,
        "quality_vs_prev": 99.999,
        "load_1m": 99.99,
        "run_noise": 99.999,
        "cpu_pressure": 99.999,
        "ratio_note": (
            "hot-box (load_1m_start=99.99, run_noise=99.999, "
            "cpu_pressure=99.999); read the _min ratio"
        ),
        "prev_stamp": "sf0.001_n850",
        "detail": "BENCH_DETAIL.json",
        "per_query": "preceding stdout line + BENCH_DETAIL.json",
    }
    assert len(json.dumps(worst)) < 1900
