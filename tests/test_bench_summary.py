"""bench.py's last stdout line stays compact and parseable however many
queries the suite times, so a log that keeps only the last 2,000
characters of the output still holds it. Spark-free."""

import json


def _report(n_queries: int) -> dict:
    q = {f"query_{i:03d}_with_a_long_descriptive_name": 1.234 + i for i in range(n_queries)}
    cal = {name: 0.161 for name in q}
    return {
        "metric": "tile-assignment + spatial-join + headline-suite elapsed",
        "value": round(sum(q.values()), 3),
        "unit": "sec",
        "queries": q,
        "rows_per_sec": 1169402.6,
        "tiles_per_sec": 182197.6,
        "ref_decode_tiles_per_sec": 306.0,
        "image_mb_per_sec": 31.58,
        "reruns": {"query_007_with_a_long_descriptive_name": 1,
                   "query_042_with_a_long_descriptive_name": 2},
        "calibration": {"samples": cal, "median": 0.161},
    }


def test_summary_is_compact_json_with_the_headline_figures():
    import bench

    report = _report(120)
    assert len(json.dumps(report)) > 2000  # the full report would not fit
    line = json.dumps(bench.summary(report))
    assert len(line) < 1500
    got = json.loads(line)
    assert got["value"] == report["value"] and got["unit"] == "sec"
    for k in ("rows_per_sec", "tiles_per_sec", "image_mb_per_sec",
              "ref_decode_tiles_per_sec"):
        assert got[k] == report[k]
    assert got["calibration_median"] == 0.161
    assert got["reruns"] == 3
