"""Unit tests for bench.py's cross-round comparison block (VERDICT r05
item 4) — pure arithmetic, no Spark. The point: both runs' host
factors come from the SAME median-of-anchors method, so a methodology
mismatch (r04's single-anchor factor vs r05's median) can never skew
the regression ratios again."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench


def test_median_host_factor_is_median_of_anchor_ratios():
    timings = {name: r01 * 2.0 for name, r01 in bench.CANARY_ANCHORS.items()}
    assert bench._median_host_factor(timings) == 2.0
    # a single regressed anchor cannot move the median
    worst = next(iter(bench.CANARY_ANCHORS))
    timings[worst] = bench.CANARY_ANCHORS[worst] * 50.0
    assert bench._median_host_factor(timings) == 2.0


def test_compare_block_flags_only_normalized_regressions(tmp_path):
    old_timings = {name: r01 for name, r01 in bench.CANARY_ANCHORS.items()}
    old_timings["steady_query"] = 1.0
    old_timings["regressed_query"] = 1.0
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps(
        {"queries": old_timings, "canary": {"host_factor": 9.9}}
    ))
    # new run: host uniformly 2x slower (anchors doubled). steady_query
    # doubles with the host (ratio 1.0); regressed_query is 4x raw =
    # 2x normalized -> flagged.
    new_timings = {name: r01 * 2 for name, r01 in bench.CANARY_ANCHORS.items()}
    new_timings["steady_query"] = 2.0
    new_timings["regressed_query"] = 4.0
    hf = bench._median_host_factor(new_timings)
    block = bench._compare_block(new_timings, hf, str(old))
    assert block["host_factor_old_median_method"] == 1.0
    assert block["host_factor_old_as_recorded"] == 9.9  # ignored for ratios
    assert block["normalized_ratios"]["steady_query"] == 1.0
    assert block["normalized_ratios"]["regressed_query"] == 2.0
    assert block["regressions"] == ["regressed_query"]
    # queries new to this round simply don't appear
    assert "brand_new_query" not in block["normalized_ratios"]


def test_latest_bench_file_picks_highest_round(tmp_path):
    for n in (3, 11, 7):
        (tmp_path / f"BENCH_r{n:02d}.json").write_text("{}")
    (tmp_path / "BENCH_rxx.json").write_text("{}")  # non-matching
    got = bench._latest_bench_file(str(tmp_path))
    assert got is not None and got.endswith("BENCH_r11.json")


def test_compare_block_unwraps_driver_recorded_shape(tmp_path):
    """The driver records bench output wrapped as {"parsed": {...}};
    the comparison must read through the wrap (found live in r06: the
    first auto-compare against BENCH_r05.json silently produced zero
    ratios)."""
    inner = {"queries": {n: r for n, r in bench.CANARY_ANCHORS.items()},
             "canary": {"host_factor": 1.0}}
    old = tmp_path / "BENCH_r99.json"
    old.write_text(json.dumps({"n": 5, "rc": 0, "tail": "...", "parsed": inner}))
    new_timings = {n: r * 3 for n, r in bench.CANARY_ANCHORS.items()}
    block = bench._compare_block(
        new_timings, bench._median_host_factor(new_timings), str(old)
    )
    assert block["host_factor_old_median_method"] == 1.0
    assert len(block["normalized_ratios"]) == len(bench.CANARY_ANCHORS)
    assert block["regressions"] == []


def test_corrupt_prior_bench_file_never_crashes(tmp_path):
    bad = tmp_path / "BENCH_r97.json"
    bad.write_text("{not json")
    import pytest as _pytest

    with _pytest.raises(Exception):
        bench._compare_block({}, 1.0, str(bad))
    # main() guards this call site — pin the guard exists in source
    import inspect

    src = inspect.getsource(bench.main)
    assert "except Exception" in src and "_compare_block" in src


def test_emit_bench_line_is_always_compact():
    """VERDICT r07 item 2: the driver captured only a 2000-char TAIL in
    both r06 (4.3 KB line) and r07 (2.6 KB line) — "parsed": null two
    rounds running. The stdout line keeps the compact scalars (total,
    normalized total, host factor, compare summary) under the base
    budget and — r15, VERDICT r14 item 2 — fills the remaining space
    under the hard cap with a cost-ordered PREFIX of the per-query
    seconds, never the full dict."""
    queries = {f"query_name_number_{i:03d}": 0.123 for i in range(60)}
    out = {
        "metric": "headline_queries_total_wall",
        "value": 12.3,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "canary": {
            "queries": {f"anchor_{i}": {"sec": 0.2, "r01_sec": 0.1}
                        for i in range(5)},
            "host_factor": 1.4,
            "note": "x",
        },
        "normalized_total": 9.0,
        "compare": {
            "against": "BENCH_r06.json",
            "host_factor_old_median_method": 1.368,
            "host_factor_old_as_recorded": 1.368,
            "normalized_ratios": {n: 1.01 for n in queries},
            "regression_threshold": 1.5,
            "regressions": ["query_name_number_001"],
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP < 2000
    parsed = json.loads(line)
    assert parsed["n_queries"] == 60
    assert parsed["queries_file"] == "BENCH_FULL.json"
    assert "normalized_ratios" not in parsed.get("compare", {})
    assert parsed["compare"]["median_ratio"] == 1.01
    assert parsed["compare"]["n_compared"] == 60
    assert parsed["compare"]["regressions"] == ["query_name_number_001"]
    # the budgeted per-query prefix (r15): whatever fits in the space
    # the compact form leaves, 2-dp rounded, omission count visible
    carried = parsed.get("queries") or {}
    assert carried
    assert all(v == 0.12 for v in carried.values())
    if len(carried) < 60:
        assert parsed["queries_omitted"] == 60 - len(carried)
    # the original dict is not mutated (it's also written to BENCH_FULL)
    assert "normalized_ratios" in out["compare"]
    assert out["queries"] == queries


def test_emit_bench_line_fits_observed_driver_capture():
    """The observed capture floor is 2000 chars (r07); the budget sits
    well under it and the worst realistic payload (huge regression
    list + known-regression annotations) still fits."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 9999.999,
        "unit": "sec",
        "queries": {n: 123.456 for n in bench.HEADLINE},
        "sf": 0.1,
        "canary": {"host_factor": 1.234, "note": "x"},
        "normalized_total": 9999.999,
        "compare": {
            "against": "BENCH_r99.json",
            "host_factor_old_median_method": 1.234,
            "host_factor_old_as_recorded": 1.234,
            "normalized_ratios": {n: 1.9 for n in bench.HEADLINE},
            "regression_threshold": 1.5,
            "regressions": sorted(bench.HEADLINE)[:8],
            "known_regressions": {
                n: "x" * 120 for n in sorted(bench.HEADLINE)[:2]
            },
            "note": "old timings salvaged from truncated driver tail",
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP < 2000
    parsed = json.loads(line)
    assert parsed["value"] == 9999.999
    assert parsed["compare"]["n_compared"] == len(bench.HEADLINE)
    # the per-query prefix fills to the cap without ever crossing it
    assert parsed.get("queries")
    assert parsed["queries_omitted"] == len(bench.HEADLINE) - len(
        parsed["queries"]
    )


def test_insert_queries_budgeted_prefix_and_streaming_routing():
    """r15 (VERDICT r14 item 2): the budgeted fill is cost-ordered
    across batch+streaming with the PREFIX property (if a query is
    carried, so is everything at least as expensive), batch entries
    land in the contract's top-level ``queries`` slot right before
    ``sf``, streaming drains in ``streaming.queries``, and the first
    entry that would cross the cap stops the fill."""
    slim = {
        "metric": "m",
        "value": 1.0,
        "unit": "sec",
        "sf": 0.1,
        "streaming": {"total": 9.0, "n": 2},
    }
    batch = {f"batch_q{i:02d}": float(100 - i) for i in range(30)}
    stream = {"drain_a": 500.5, "drain_b": 0.111}
    cap = len(json.dumps(slim)) + 220
    got = bench._insert_queries_budgeted(slim, batch, stream, cap=cap)
    assert len(json.dumps(got)) <= cap
    carried = got["queries"]
    # prefix property: the carried batch names are exactly the N most
    # expensive ones
    expect = sorted(batch, key=lambda n: -batch[n])[: len(carried)]
    assert sorted(carried) == sorted(expect)
    assert got["queries_omitted"] == len(batch) - len(carried)
    # drain_a (500.5s) outranks every batch entry and lands in the
    # streaming block
    assert got["streaming"]["queries"]["drain_a"] == 500.5
    # key order: queries sits right before sf (the documented contract
    # position)
    keys = list(got)
    assert keys.index("queries") < keys.index("sf")
    # without a streaming block, stream entries are not invented
    slim2 = {"metric": "m", "value": 1.0, "unit": "sec", "sf": 0.1}
    got2 = bench._insert_queries_budgeted(slim2, {"q": 1.0}, stream, cap=500)
    assert "streaming" not in got2 and got2["queries"] == {"q": 1.0}


def test_insert_queries_budgeted_without_sf_and_when_none_fit():
    """Batch entries ride the line even when ``sf`` (their contract
    anchor) is absent, and ``queries_omitted`` is emitted whenever
    batch entries exist but not all are carried — zero carried
    included."""
    slim = {"metric": "m", "value": 1.0, "unit": "sec"}
    batch = {"q_a": 3.0, "q_b": 2.0, "q_c": 1.0}
    got = bench._insert_queries_budgeted(slim, batch, None, cap=500)
    assert list(got)[-1] == "queries" and got["queries"] == batch
    assert "queries_omitted" not in got
    # a cap that fits the omitted counter but no entry
    for s in (slim, {**slim, "sf": 0.1}):
        cap = len(json.dumps({**s, "queries_omitted": 3}))
        got = bench._insert_queries_budgeted(s, batch, None, cap=cap)
        assert "queries" not in got and got["queries_omitted"] == 3


def test_archive_and_reload_full_record_roundtrip(tmp_path):
    """The compact line breaks cross-round compares unless the full
    record is pinned per round: archive_full_records must copy
    BENCH_FULL.json to BENCH_FULL_r{N}.json when fingerprints match,
    and _compare_block must read old timings back through it."""
    full = {
        "metric": "headline_queries_total_wall",
        "value": 42.5,
        "unit": "sec",
        "queries": dict(bench.CANARY_ANCHORS),
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "normalized_total": 42.5,
    }
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps(full))
    compact = {k: v for k, v in full.items() if k != "queries"}
    compact["n_queries"] = len(full["queries"])
    compact["queries_file"] = "BENCH_FULL.json"
    (tmp_path / "BENCH_r98.json").write_text(
        json.dumps({"rc": 0, "tail": "", "parsed": compact})
    )
    # a non-matching older round must NOT steal the record
    stale = dict(compact)
    stale["value"] = 7.0
    (tmp_path / "BENCH_r97.json").write_text(
        json.dumps({"rc": 0, "tail": "", "parsed": stale})
    )
    archived = bench.archive_full_records(str(tmp_path))
    assert archived == ["BENCH_FULL_r98.json"]
    # second call is a no-op (already archived)
    assert bench.archive_full_records(str(tmp_path)) == []
    # simulate the next round overwriting BENCH_FULL.json, then compare
    (tmp_path / "BENCH_FULL.json").write_text(json.dumps({"value": 1.0}))
    new_timings = {n: r * 2 for n, r in bench.CANARY_ANCHORS.items()}
    block = bench._compare_block(
        new_timings,
        bench._median_host_factor(new_timings),
        str(tmp_path / "BENCH_r98.json"),
    )
    assert len(block["normalized_ratios"]) == len(bench.CANARY_ANCHORS)
    assert block["regressions"] == []
    assert block["note"] == "old timings loaded from archived full record"


def test_explicit_compare_path_must_exist():
    """ADVICE r06: `--compare` without a path raised IndexError and a
    typoed path silently fell through to a no-compare run. Both now
    abort loudly before any Spark work."""
    import inspect

    src = inspect.getsource(bench.main)
    assert "--compare requires a path argument" in src
    assert "--compare file not found" in src


def test_bench_history_salvages_truncated_round():
    """VERDICT r06 item 7, pinned against the literal BENCH_r06.json:
    a round whose "parsed" is null must be reconstructed from its tail
    (direct pairs + inverted compare ratios) and flagged partial, not
    silently dropped."""
    repo = os.path.join(os.path.dirname(__file__), "..")
    if not os.path.exists(os.path.join(repo, "BENCH_r06.json")):
        import pytest as _pytest

        _pytest.skip("BENCH_r06.json fixture not present")
    sys.path.insert(0, os.path.join(repo, "tools"))
    import bench_history

    rounds, partial = bench_history.load_rounds(repo)
    assert 6 in partial
    r06 = rounds[6]
    # the one complete pair in the queries region of the tail
    assert r06["sketch_user_stats"] == 0.992
    # compare-ratio inversion: ratio * old_sec * hf_new / hf_old
    # (q1_pricing_summary: 0.956 * r05 sec * 1.368 / 1.467)
    with open(os.path.join(repo, "BENCH_r05.json")) as f:
        old = json.load(f)["parsed"]["queries"]
    expect = round(0.956 * old["q1_pricing_summary"] * 1.368 / 1.467, 3)
    assert r06["q1_pricing_summary"] == expect
    assert len(r06) > 40


def test_known_regression_annotation_attaches_only_when_flagged(tmp_path):
    """A flagged regression listed in _KNOWN_REGRESSIONS carries its
    one-line justification into the compare block (and from there into
    the slim stdout line); unflagged or unknown queries attach
    nothing."""
    old_timings = {name: r01 for name, r01 in bench.CANARY_ANCHORS.items()}
    old_timings["curriculum_buckets"] = 1.0
    old_timings["other_regressed"] = 1.0
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps({"queries": old_timings}))
    new_timings = {name: r01 for name, r01 in bench.CANARY_ANCHORS.items()}
    new_timings["curriculum_buckets"] = 2.0
    new_timings["other_regressed"] = 2.0
    hf = bench._median_host_factor(new_timings)
    block = bench._compare_block(new_timings, hf, str(old))
    assert set(block["regressions"]) == {"curriculum_buckets",
                                         "other_regressed"}
    assert list(block["known_regressions"]) == ["curriculum_buckets"]
    # below-threshold run: no annotation even for a listed query
    block2 = bench._compare_block(old_timings, 1.0, str(old))
    assert "known_regressions" not in block2


def test_subsecond_queries_pool_instead_of_flagging(tmp_path):
    """A query under the noise floor on both sides is exempt from the
    per-query 1.5x guard even at a 2x ratio (scheduler noise class,
    VERDICT r08 item 7); its time lands in the pooled figure. A tiny
    query that blows up PAST the floor still flags individually."""
    old_timings = {name: r for name, r in bench.CANARY_ANCHORS.items()}
    old_timings["tiny_noisy"] = 0.2      # 0.2 -> 0.4: both < floor
    old_timings["tiny_blowup"] = 0.3     # 0.3 -> 2.0: new side > floor
    old_timings["steady_query"] = 1.0
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps({"queries": old_timings, "canary": {}}))
    new_timings = {name: r for name, r in bench.CANARY_ANCHORS.items()}
    new_timings["tiny_noisy"] = 0.4
    new_timings["tiny_blowup"] = 2.0
    new_timings["steady_query"] = 1.0
    hf = bench._median_host_factor(new_timings)  # 1.0: anchors unchanged
    block = bench._compare_block(new_timings, hf, str(old))
    assert block["normalized_ratios"]["tiny_noisy"] == 2.0
    assert "tiny_noisy" not in block["regressions"]
    assert "tiny_blowup" in block["regressions"]
    pool = block["subsecond_pool"]
    assert pool["n"] >= 1 and pool["ratio"] is not None
    assert block["noise_floor_sec"] == bench._NOISE_FLOOR_SEC


def test_subsecond_pool_regression_flag(tmp_path):
    """If the pooled sub-second total itself crosses the threshold,
    the pool carries its own regressed flag — broad slowdowns of the
    noise class are still caught, just not query-by-query."""
    old_timings = dict(bench.CANARY_ANCHORS)
    new_timings = dict(bench.CANARY_ANCHORS)
    for i in range(10):
        old_timings[f"tiny_{i}"] = 0.2
        new_timings[f"tiny_{i}"] = 0.45  # 2.25x each, all under floor
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps({"queries": old_timings, "canary": {}}))
    hf = bench._median_host_factor(new_timings)
    block = bench._compare_block(new_timings, hf, str(old))
    assert block["regressions"] == []
    assert block["subsecond_pool"]["regressed"] is True


def test_emit_bench_line_drops_bulk_fields():
    """query_spread_stddev and per-flag regression_checks belong to
    BENCH_FULL only; the stdout line must stay under the capture
    budget with them stripped."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {f"q{i}": 0.1 for i in range(120)},
        "query_spread_stddev": {f"q{i}": 0.01 for i in range(120)},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "normalized_total": 1.0,
        "compare": {
            "against": "BENCH_r08.json",
            "normalized_ratios": {f"q{i}": 1.0 for i in range(120)},
            "regressions": ["q1"],
            "flagged_batch": ["q1", "q2"],
            "regression_checks": {
                "q1": {"batch_sec": 1, "isolated_sec": 1,
                       "batch_ratio": 2.0, "isolated_ratio": 2.0,
                       "confirmed": True},
            },
            "subsecond_pool": {"n": 3, "new_norm_sec": 1.0,
                               "old_norm_sec": 1.0, "ratio": 1.0,
                               "regressed": False},
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP
    parsed = json.loads(line)
    assert "query_spread_stddev" not in parsed
    assert "regression_checks" not in parsed.get("compare", {})
    assert parsed["compare"]["regressions"] == ["q1"]
    assert parsed["compare"]["subsecond_pool"]["n"] == 3
    # VERDICT r11 item 5: every flagged name carries its isolated-rerun
    # verdict inline — a driver artifact can never show an unexplained
    # flag again. q2 was flagged but has no check row (edge): the
    # resolution still lists it, with null evidence, rather than
    # silently dropping it.
    res = parsed["compare"]["flag_resolution"]
    assert res["q1"] == {"isolated_ratio": 2.0, "confirmed": True}
    assert res["q2"] == {"isolated_ratio": None, "confirmed": None}


def test_emit_bench_line_sheds_flag_detail_before_the_compare_block():
    """Progressive size guard: a flood of flags drops flag_resolution
    first (names survive in regressions / known_regressions) and the
    whole compare block only as a last resort — and the known
    annotations ship as NAMES, not paragraphs (the r12 composed-family
    prose alone pushed the line past the budget once)."""
    flags = [f"very_long_query_name_number_{i:03d}" for i in range(8)]
    out = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 0.1},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "compare": {
            "against": "BENCH_r11.json",
            "normalized_ratios": {n: 2.0 for n in flags},
            "regressions": flags,
            "flagged_batch": flags,
            "regression_checks": {
                n: {"isolated_ratio": 2.0, "confirmed": True} for n in flags
            },
            "known_regressions": {n: "a long prose paragraph " * 10
                                  for n in flags},
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP
    parsed = json.loads(line)
    assert "compare" in parsed  # shed detail, kept the block
    assert "flag_resolution" not in parsed["compare"]
    assert parsed["compare"]["known_regressions"] == sorted(flags)
    assert parsed["compare"]["regressions"] == flags


def test_emit_bench_line_has_no_flag_resolution_when_nothing_flagged():
    out = {
        "metric": "headline_queries_total_wall",
        "value": 1.0,
        "unit": "sec",
        "queries": {"q1": 0.1},
        "sf": 0.1,
        "canary": {"host_factor": 1.0, "host_factor_text": 1.1},
        "compare": {
            "against": "BENCH_r08.json",
            "normalized_ratios": {"q1": 1.0},
            "regressions": [],
            "flagged_batch": [],
            "regression_checks": {},
        },
    }
    parsed = json.loads(bench.emit_bench_line(out))
    assert "flag_resolution" not in parsed["compare"]
    # the text-class host factor rides on the slim canary block
    assert parsed["canary"]["host_factor_text"] == 1.1


def test_text_class_normalizes_by_text_factor_when_both_rounds_carry_it(
    tmp_path,
):
    """The r10/r11 canary-skew scenario (VERDICT r11 item 6): a host
    2x slower on scan/agg but 3.2x slower on the text class. Under the
    single factor the text query reads 1.6x (a fake regression); with
    text anchors on BOTH sides it normalizes to 1.0. An old round
    without text anchors falls back to the single factor — mixing
    factor kinds across sides would itself skew the ratio."""
    name = next(iter(bench._TEXT_CLASS))
    old_timings = dict(bench.CANARY_ANCHORS)
    old_timings[name] = 1.0
    new_timings = {k: v * 2 for k, v in bench.CANARY_ANCHORS.items()}
    new_timings[name] = 3.2
    hf = bench._median_host_factor(new_timings)
    assert hf == 2.0

    with_anchors = tmp_path / "BENCH_r97.json"
    with_anchors.write_text(json.dumps({
        "queries": old_timings,
        "canary": {"text_anchors": dict(bench.CANARY_TEXT_ANCHORS)},
    }))
    block = bench._compare_block(new_timings, hf, str(with_anchors),
                                 text_factor=3.2)
    assert block["host_factor_text_old"] == 1.0
    assert block["normalized_ratios"][name] == 1.0
    assert name not in block["regressions"]

    without = tmp_path / "BENCH_r98.json"
    without.write_text(json.dumps({"queries": old_timings}))
    block = bench._compare_block(new_timings, hf, str(without),
                                 text_factor=3.2)
    assert block["normalized_ratios"][name] == 1.6
    assert name in block["regressions"]


def test_median_host_factor_takes_an_anchor_set():
    timings = {n: a * 1.5 for n, a in bench.CANARY_TEXT_ANCHORS.items()}
    assert bench._median_host_factor(
        timings, bench.CANARY_TEXT_ANCHORS
    ) == 1.5
    # no text anchors in the timings -> None, never a silent 1.0
    assert bench._median_host_factor({}, bench.CANARY_TEXT_ANCHORS) is None


def test_confirm_regressions_clears_interference_keeps_real():
    """The isolated re-run demotes a batch-interference flag (isolated
    time back at baseline) and confirms a real one (isolated time
    still slow); both carry {batch_sec, isolated_sec} either way."""
    compare = {
        "normalized_ratios": {"noisy": 2.0, "real": 2.0},
        "regressions": ["noisy", "real"],
    }
    timings = {"noisy": 2.0, "real": 2.0}
    iso = {"noisy": 0.9, "real": 1.9}  # noisy re-runs fast, real stays slow
    bench.confirm_regressions(compare, timings, lambda n: iso[n])
    assert compare["flagged_batch"] == ["noisy", "real"]
    assert compare["regressions"] == ["real"]
    checks = compare["regression_checks"]
    assert checks["noisy"]["confirmed"] is False
    assert checks["noisy"]["isolated_ratio"] == 0.9  # 2.0 * 0.9/2.0
    assert checks["real"]["confirmed"] is True
    assert all(
        {"batch_sec", "isolated_sec", "batch_ratio", "isolated_ratio"}
        <= set(c)
        for c in checks.values()
    )


def test_pooled_member_with_large_abs_delta_flags_individually(tmp_path):
    """ADVICE r09: a genuine sub-floor regression (0.1 -> 0.55 s,
    5.5x) must not hide in the ~38-member pool average — members past
    the absolute-delta floor (or the looser ratio cap) rejoin the
    individually-flagged set."""
    old_timings = {name: a for name, a in bench.CANARY_ANCHORS.items()}
    old_timings["tiny_blown"] = 0.1
    old_timings["tiny_noisy"] = 0.10
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps({"queries": old_timings}))
    new_timings = dict(bench.CANARY_ANCHORS)  # host factor 1.0
    new_timings["tiny_blown"] = 0.55   # +0.45s abs, 5.5x — must flag
    new_timings["tiny_noisy"] = 0.17   # +0.07s, 1.7x — pool noise
    hf = bench._median_host_factor(new_timings)
    block = bench._compare_block(new_timings, hf, str(old))
    pool = block["subsecond_pool"]
    assert "tiny_blown" in pool["flagged_members"]
    assert "tiny_blown" in block["regressions"]
    assert "tiny_noisy" not in pool["flagged_members"]
    assert "tiny_noisy" not in block["regressions"]


def test_streaming_compare_reads_prior_full_record(tmp_path):
    """The streaming guard normalizes with the prior BATCH canary and
    compares against the prior full record's streaming section."""
    old_batch = dict(bench.CANARY_ANCHORS)  # old host factor 1.0
    rec = {
        "value": 12.3,
        "sf": 0.1,
        "queries": old_batch,
        "streaming": {"queries": {"streaming_sessionize": 2.0,
                                  "streaming_hll_registers": 1.0}},
    }
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps(rec))
    new = {"streaming_sessionize": 4.0,   # 2x normalized -> flag
           "streaming_hll_registers": 1.05}
    block = bench._streaming_compare(new, 1.0, str(old))
    assert block["host_factor_old_median_method"] == 1.0
    assert block["normalized_ratios"]["streaming_sessionize"] == 2.0
    assert block["regressions"] == ["streaming_sessionize"]
    assert "streaming_hll_registers" not in block["regressions"]


def test_streaming_compare_notes_missing_prior_section(tmp_path):
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps({"value": 1.0, "sf": 0.1, "queries": {}}))
    block = bench._streaming_compare({"streaming_sessionize": 2.0}, 1.0, str(old))
    assert block["note"] == "no streaming section in prior record"
    assert "regressions" not in block


def test_emit_bench_line_carries_slim_streaming_section():
    out = {
        "metric": "headline_queries_total_wall",
        "value": 10.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 10.0},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "streaming": {
            "queries": {"streaming_sessionize": 2.0},
            "total": 2.0,
            "compare": {
                "normalized_ratios": {"streaming_sessionize": 1.1},
                "regressions": [],
            },
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP
    parsed = json.loads(line)
    # r15: the budgeted fill adds per-drain seconds back into the slim
    # streaming block (space permitting); the scalar summary is intact
    assert parsed["streaming"]["total"] == 2.0
    assert parsed["streaming"]["n"] == 1
    assert parsed["streaming"]["regressions"] == []
    assert parsed["streaming"]["median_ratio"] == 1.1
    assert parsed["streaming"]["queries"] == {"streaming_sessionize": 2.0}


def test_streaming_compare_slim_prior_falls_through_to_archive(tmp_path):
    """A driver-recorded slim line carries streaming WITHOUT 'queries'
    (emit_bench_line strips them); the guard must still reach the
    round's archived full record instead of self-disabling from the
    first slim round onward (r10 review finding)."""
    old_batch = dict(bench.CANARY_ANCHORS)
    slim = {
        "value": 12.3,
        "sf": 0.1,
        "queries": old_batch,
        "streaming": {"total": 3.0, "n": 2},  # no 'queries' — slim form
    }
    (tmp_path / "BENCH_r98.json").write_text(json.dumps(slim))
    full = dict(slim)
    full["streaming"] = {
        "queries": {"streaming_sessionize": 2.0, "streaming_hll_registers": 1.0}
    }
    (tmp_path / "BENCH_FULL_r98.json").write_text(json.dumps(full))
    block = bench._streaming_compare(
        {"streaming_sessionize": 4.0, "streaming_hll_registers": 1.05},
        1.0,
        str(tmp_path / "BENCH_r98.json"),
    )
    assert block.get("note") != "no streaming section in prior record"
    assert block["normalized_ratios"]["streaming_sessionize"] == 2.0
    assert block["regressions"] == ["streaming_sessionize"]


def test_ratio_guard_missing_host_factor_is_not_an_all_clear():
    """No host factor (e.g. a streaming-only SPARK_GRAFT_BENCH_QUERIES
    subset: no batch timings to derive one) must read as 'comparison
    unavailable', not as zero regressions (r10 review finding)."""
    for new_hf, old_hf in ((None, 1.0), (1.0, None), (None, None)):
        block = bench._ratio_guard(
            {"streaming_sessionize": 9.0}, new_hf,
            {"streaming_sessionize": 1.0}, old_hf,
        )
        assert block["regressions"] is None
        assert "comparison unavailable" in block["note"]
        assert block["normalized_ratios"] == {}


def test_compare_block_survives_missing_host_factor(tmp_path):
    """_compare_block must surface the 'comparison unavailable' note —
    not TypeError on regressions=None swallowed into an error block
    (r10 review finding: the _ratio_guard early return was tested, its
    caller was not)."""
    old_batch = dict(bench.CANARY_ANCHORS)
    old = tmp_path / "BENCH_r97.json"
    old.write_text(json.dumps({"value": 1.0, "sf": 0.1, "queries": old_batch}))
    block = bench._compare_block({"q1_pricing_summary": 2.0}, None, str(old))
    assert block["regressions"] is None
    assert "comparison unavailable" in block["note"]
    assert "error" not in block


def test_cross_round_context_adds_prior_round_ratio(tmp_path):
    """r11 investigation: a confirmed regression gets an informational
    ratio vs the round BEFORE the compared one, so a one-off fast cell
    in the prior record is visible as the outlier it is — without ever
    clearing the flag."""
    against = tmp_path / "BENCH_r98.json"
    against.write_text("{}")  # only the name matters here
    prevprev = {name: r01 for name, r01 in bench.CANARY_ANCHORS.items()}
    prevprev["suspect_query"] = 2.0  # r97 normalized value: 2.0
    (tmp_path / "BENCH_FULL_r97.json").write_text(
        json.dumps({"queries": prevprev})
    )
    compare = {
        "regressions": ["suspect_query"],
        "regression_checks": {"suspect_query": {"confirmed": True}},
    }
    # current host uniformly 1x (anchors at reference): hf = 1.0;
    # suspect measures 2.2 -> vs r97's 2.0 the ratio is a flat 1.1,
    # exposing the compared round's fast cell as the anomaly
    timings = {"suspect_query": 2.2}
    bench.cross_round_context(compare, timings, 1.0, str(against))
    assert (
        compare["regression_checks"]["suspect_query"]["ratio_vs_r97"] == 1.1
    )


def test_cross_round_context_is_a_noop_without_the_archive(tmp_path):
    against = tmp_path / "BENCH_r98.json"
    against.write_text("{}")
    compare = {
        "regressions": ["q"],
        "regression_checks": {"q": {"confirmed": True}},
    }
    bench.cross_round_context(compare, {"q": 1.0}, 1.0, str(against))
    assert compare["regression_checks"]["q"] == {"confirmed": True}


def test_streaming_slim_is_self_exonerating_when_flagged():
    """VERDICT r12 item 4: a streaming flag must ship with its
    isolated-rerun verdict and known-regression names in the SLIM
    line, like the batch block — r12's slim carried
    regressions=["streaming_corpus_fate_gate"] with no rationale."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 10.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 10.0},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "streaming": {
            "queries": {"streaming_corpus_fate_gate": 9.0},
            "total": 9.0,
            "compare": {
                "normalized_ratios": {"streaming_corpus_fate_gate": 2.9},
                "regressions": ["streaming_corpus_fate_gate"],
                "flagged_batch": ["streaming_corpus_fate_gate"],
                "regression_checks": {
                    "streaming_corpus_fate_gate": {
                        "isolated_ratio": 2.8,
                        "confirmed": True,
                    }
                },
                "known_regressions": {
                    "streaming_corpus_fate_gate": "deliberate composition"
                },
            },
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_BUDGET
    parsed = json.loads(line)
    s = parsed["streaming"]
    assert s["known_regressions"] == ["streaming_corpus_fate_gate"]
    assert s["flag_resolution"]["streaming_corpus_fate_gate"] == {
        "isolated_ratio": 2.8,
        "confirmed": True,
    }


def test_cross_round_context_uses_text_factor_for_text_class(tmp_path):
    """ADVICE r12: the advisory ratio_vs_r{prev} must not mix a
    text-factor primary ratio with a default-factor second opinion.
    When both this run and the r{prev} archive carry text anchors, a
    _TEXT_CLASS flag's second-opinion ratio normalizes by the text
    factors — and the factor kind rides next to the number either
    way."""
    against = tmp_path / "BENCH_r98.json"
    against.write_text("{}")
    name = next(iter(bench._TEXT_CLASS))
    prevprev = {n: r for n, r in bench.CANARY_ANCHORS.items()}
    prevprev[name] = 2.0
    (tmp_path / "BENCH_FULL_r97.json").write_text(
        json.dumps(
            {
                "queries": prevprev,
                "canary": {
                    # r97 text factor = 2.0 (anchors at 2x reference)
                    "text_anchors": {
                        n: v * 2.0
                        for n, v in bench.CANARY_TEXT_ANCHORS.items()
                    }
                },
            }
        )
    )
    compare = {
        "regressions": [name],
        "regression_checks": {name: {"confirmed": True}},
    }
    # current: default hf 1.0, text factor 1.0; r97: default hf 1.0,
    # text factor 2.0 — the text-normalized old value is 1.0, so the
    # 2.2 measurement reads 2.2 under text factors (not 1.1 under the
    # default factors).
    bench.cross_round_context(
        compare, {name: 2.2}, 1.0, str(against), text_factor=1.0
    )
    checks = compare["regression_checks"][name]
    assert checks["ratio_vs_r97"] == 2.2
    assert checks["ratio_vs_r97_factor"] == "text"
    # without a current text factor, fall back to default + say so
    compare2 = {
        "regressions": [name],
        "regression_checks": {name: {"confirmed": True}},
    }
    bench.cross_round_context(compare2, {name: 2.2}, 1.0, str(against))
    checks2 = compare2["regression_checks"][name]
    assert checks2["ratio_vs_r97"] == 1.1
    assert checks2["ratio_vs_r97_factor"] == "default"


def test_warehouse_consumer_sets_stay_in_sync():
    """A *_from_manifest / *_from_tables entry added to the bench or
    sweep without joining the pre-materialization set would time the
    one-off table BUILD as its steady-state cell — pin the two sets
    to each other and to the benched entries that need them."""
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import scale_sweep

    assert bench._MAT_CONSUMERS == frozenset(scale_sweep._WAREHOUSE_CONSUMERS)
    # r14 (ADVICE r13): the per-consumer table mapping, not just the
    # name sets, must agree — a consumer whose bench mapping misses a
    # table it reads would time the one-off build as its cell
    assert bench._MAT_TABLES == scale_sweep._WAREHOUSE_TABLES
    needs = {
        n
        for n in bench.HEADLINE + bench.STREAMING
        if "from_manifest" in n or "from_tables" in n
        or n in ("fate_churn_summary", "release_datacard_diff",
                 "fate_recompute_plan")
    }
    assert needs <= bench._MAT_CONSUMERS
    # r14 review: the builder map is shared (fate_delta.
    # warehouse_builders) so bench and sweep can't drift — and every
    # table name either tool's consumer mapping references must have
    # a builder, or materialization KeyErrors at run time
    from dungbeetle_spark.operators.fate_delta import warehouse_builders

    referenced = {t for ts in bench._MAT_TABLES.values() for t in ts}
    assert referenced <= set(warehouse_builders())


def test_streaming_compare_records_session_modes(tmp_path):
    """r14 (VERDICT r13 item 2): the compare must say WHERE each
    side's drains were measured — an old inline record (drains timed
    after the whole batch section) compared against a fresh-session
    run reads as a fake improvement, and the mode pair is what makes
    that self-explaining in the artifact."""
    rec = {
        "value": 12.3,
        "sf": 0.1,
        "queries": dict(bench.CANARY_ANCHORS),
        "streaming": {"queries": {"streaming_sessionize": 7.6}},
    }
    old = tmp_path / "BENCH_r98.json"
    old.write_text(json.dumps(rec))
    block = bench._streaming_compare(
        {"streaming_sessionize": 4.1}, 1.0, str(old), "fresh"
    )
    assert block["session_mode"] == {"new": "fresh", "old": "inline"}

    rec["streaming"]["session_mode"] = "fresh"
    old.write_text(json.dumps(rec))
    block = bench._streaming_compare(
        {"streaming_sessionize": 4.1}, 1.0, str(old), "fresh"
    )
    assert block["session_mode"] == {"new": "fresh", "old": "fresh"}


def test_streaming_vs_oldest_anchors_to_first_record(tmp_path):
    """The cumulative anchor (VERDICT r13 item 2b) must pick the
    OLDEST archived record carrying the op — the r10→r13 sessionize
    creep (2.86→7.60 s) stayed under every adjacent-round flag; only
    a vs-oldest ratio exposes it."""
    for rnd, sec in ((10, 2.86), (12, 4.09)):
        rec = {
            "value": 1.0,
            "sf": 0.1,
            "queries": dict(bench.CANARY_ANCHORS),  # host factor 1.0
            "streaming": {"queries": {"streaming_sessionize": sec}},
        }
        (tmp_path / f"BENCH_FULL_r{rnd:02d}.json").write_text(
            json.dumps(rec)
        )
    out = bench._streaming_vs_oldest(
        {"streaming_sessionize": 7.6}, 1.0, str(tmp_path)
    )
    ent = out["streaming_sessionize"]
    assert ent["round"] == 10
    assert ent["old_mode"] == "inline"
    assert ent["ratio"] == round(7.6 / 2.86, 3)
    # an over-threshold cumulative ratio with a reviewed cause ships
    # self-annotated (sessionize has a _KNOWN_REGRESSIONS entry — the
    # r14 session-position attribution)
    assert ent.get("known") is True
    # an under-threshold entry carries no annotation
    low = bench._streaming_vs_oldest(
        {"streaming_sessionize": 2.9}, 1.0, str(tmp_path)
    )["streaming_sessionize"]
    assert "known" not in low


def test_emit_bench_line_sheds_streaming_detail_without_batch_compare():
    """ADVICE r13: an over-budget line with streaming flags but NO
    batch compare block must still shed the streaming flag_resolution
    (it used to be nested under the batch-compare guard, so the final
    fallback dropped the batch block and left the oversize streaming
    detail in place)."""
    out = {
        "metric": "headline_queries_total_wall",
        "value": 10.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 10.0},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "streaming": {
            "queries": {f"streaming_op_{i}": 1.0 for i in range(40)},
            "total": 40.0,
            "session_mode": "fresh",
            "compare": {
                "normalized_ratios": {
                    f"streaming_op_{i}": 2.9 for i in range(40)
                },
                "regressions": [f"streaming_op_{i}" for i in range(40)],
                "flagged_batch": [f"streaming_op_{i}" for i in range(40)],
                "regression_checks": {
                    f"streaming_op_{i}": {
                        "isolated_ratio": 2.8,
                        "confirmed": True,
                    }
                    for i in range(40)
                },
            },
        },
    }
    line = bench.emit_bench_line(out)
    assert len(line) <= bench._STDOUT_LINE_HARD_CAP
    parsed = json.loads(line)
    assert "flag_resolution" not in parsed.get("streaming", {})
    # the names themselves survive the shed
    assert parsed["streaming"]["regressions"]


def test_emit_bench_line_carries_session_mode_and_vs_oldest_max():
    out = {
        "metric": "headline_queries_total_wall",
        "value": 10.0,
        "unit": "sec",
        "queries": {"q1_pricing_summary": 10.0},
        "sf": 0.1,
        "canary": {"host_factor": 1.0},
        "streaming": {
            "queries": {"streaming_sessionize": 4.1},
            "total": 4.1,
            "session_mode": "fresh",
            "vs_oldest": {
                "streaming_sessionize": {
                    "ratio": 1.43,
                    "round": 10,
                    "old_mode": "inline",
                },
                "streaming_hll_registers": {
                    "ratio": 0.9,
                    "round": 10,
                    "old_mode": "inline",
                },
            },
        },
    }
    parsed = json.loads(bench.emit_bench_line(out))
    assert parsed["streaming"]["session_mode"] == "fresh"
    assert parsed["streaming"]["vs_oldest_max"] == {
        "name": "streaming_sessionize",
        "ratio": 1.43,
        "round": 10,
        "old_mode": "inline",
    }


def test_mat_tables_for_unions_only_selected_consumers():
    """ADVICE r13: a subset run must materialize only the tables its
    selected ops read — the old code built all five whenever any
    consumer was chosen, over-reporting materialization_setup_sec."""
    assert bench._mat_tables_for(["streaming_fate_gate_from_tables"]) == {
        "fate_reference"
    }
    assert bench._mat_tables_for(["fate_recompute_plan"]) == {
        "seeded_manifest",
        "seeded_canon",
    }
    assert bench._mat_tables_for(["q1_pricing_summary"]) == set()
