"""The bench driver contract: ONE JSON line whose ``queries`` map is
never dropped or renamed.

Rounds 9-11 silently replaced the whole map with {"total_only": true}
once the line outgrew the driver's ~2000-char stdout tail, which broke
the driver's per-query comparison and its low-core scaling measurement
for three rounds (PERF_r11: n_common = 1). These tests pin the r12 fix:
auxiliary fields shed first, per-query values re-rounded as a last
resort, the map itself inviolable. Pure-python — no Spark session.
"""

import copy
import json

from bench import HEADLINE, LINE_BUDGET, summary_line


def _summary(n_queries, name_len=24):
    qs = {f"q{'x' * name_len}_{i:03d}": 0.123 for i in range(n_queries)}
    return {
        "metric": "headline_total",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
        "compression": {"rows": 7461, "parquet_zstd_sorted_bytes": 76976,
                        "opcode_stream_bytes": 214142,
                        "ref_dialect_bytes": 128262,
                        "parquet_over_opcode_ratio": 0.359,
                        "parquet_over_ref_ratio": 0.6},
        "load_avg": [1.0, 2.0, 3.0],
        "load_gate": {"passed": True, "samples": [0.4] * 30,
                      "threshold": 0.5, "waited_s": 160.0},
        "section_loads": {"headline": {"start": [1, 2, 3], "end": [1, 2, 3],
                                       "during_max_1min": 9.99}},
        "sf1_ratio_median": 1.94,
        "sf1_ratio_max": 17.1,
        "scale10_ratio_max": 5.56,
    }


def test_current_headline_set_fits_with_ratios():
    """The real headline set must fit the budget without
    touching the queries map (ratio summaries may be shed but the
    per-query values stay at 3 decimals)."""
    s = {
        "metric": "headline_total",
        "value": 39.167,
        "unit": "sec",
        "queries": {name: 0.123 for name in HEADLINE},
        "sf": 0.1,
    }
    line = summary_line(dict(s, sf1_ratio_median=1.94, sf1_ratio_max=17.1,
                             scale10_ratio_max=5.56))
    assert len(line) <= LINE_BUDGET
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(HEADLINE)
    assert parsed["queries"][HEADLINE[0]] == 0.123  # not re-rounded


def test_aux_fields_shed_before_queries_touched():
    # names with a 28-char run overflow deliberately at the real headline
    # count, forcing the provenance fields to shed
    s = _summary(len(HEADLINE), name_len=28)
    before = copy.deepcopy(s)
    line = summary_line(s)
    assert s == before  # the caller's dict is not shed or re-rounded
    parsed = json.loads(line)
    assert len(parsed["queries"]) == len(HEADLINE)
    # the bulky provenance fields are the first to go
    assert "section_loads" not in parsed
    assert "load_gate" not in parsed


def test_queries_map_survives_any_growth():
    """Even far past the budget (200 long-named queries), every entry
    stays present — the last resort is 2-decimal re-rounding, never
    total_only."""
    s = _summary(200)
    line = summary_line(s)
    parsed = json.loads(line)
    assert len(parsed["queries"]) == 200
    assert all(v == 0.12 for v in parsed["queries"].values())  # re-rounded
    assert "total_only" not in json.dumps(parsed)
