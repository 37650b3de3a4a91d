"""Unit tests for the round-over-round tooling (tools/bench_compare.py) —
no Spark session needed, these run in milliseconds. The load-adjudication
path matters because r9 was the first round with telemetry on both sides:
the comparison must actually FIRE on a materially-loaded run and say
which side was loaded, not just carry the fields."""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from bench_compare import _load_note, compare, load_bench  # noqa: E402


def _bench(queries, load=None, value=None):
    obj = {
        "metric": "headline_queries_total_runtime",
        "value": value if value is not None else round(sum(queries.values()), 3),
        "queries": queries,
    }
    if load is not None:
        obj["load"] = load
    return obj


def _load(start_1m, end_5m, cpus=32):
    return {
        "start_1m": start_1m,
        "start_5m": start_1m,
        "end_1m": end_5m,
        "end_5m": end_5m,
        "cpus": cpus,
    }


def test_load_note_comparable_when_both_quiet():
    note = _load_note(
        _bench({}, load=_load(2.0, 3.0)), _bench({}, load=_load(2.5, 3.5))
    )
    assert note["verdict"] == "comparable"
    assert note["loaded_side"] is None
    assert "rule" in note  # the definition of "materially" is recorded


def test_load_note_flags_loaded_current_side():
    # quiet prior (3/32 ≈ 0.09) vs loaded current (16/32 = 0.5):
    # delta 0.41 >= 0.25 → mismatch, current named as the loaded run
    note = _load_note(
        _bench({}, load=_load(2.0, 3.0)), _bench({}, load=_load(14.0, 16.0))
    )
    assert note["verdict"].startswith("load-mismatch")
    assert note["loaded_side"] == "current"
    assert "current run was the loaded one" in note["verdict"]


def test_load_note_flags_loaded_prior_side_via_ratio_rule():
    # prior 12/32 = 0.375 vs current 2/32 ≈ 0.06: delta < 0.25 but the
    # larger side is >= 0.3 and >= 2.5x the smaller → still a mismatch
    note = _load_note(
        _bench({}, load=_load(10.0, 12.0)), _bench({}, load=_load(1.0, 2.0))
    )
    assert note["verdict"].startswith("load-mismatch")
    assert note["loaded_side"] == "prior"


def test_load_note_missing_telemetry_sides():
    assert _load_note(_bench({}), _bench({}))["verdict"] == (
        "no-load-telemetry-in-either"
    )
    assert _load_note(_bench({}), _bench({}, load=_load(1, 1)))["verdict"] == (
        "no-load-telemetry-in-prior"
    )
    assert _load_note(_bench({}, load=_load(1, 1)), _bench({}))["verdict"] == (
        "no-load-telemetry-in-current"
    )


def test_compare_totals_are_intersection_honest():
    prior = _bench({"a": 1.0, "b": 2.0})
    current = _bench({"a": 1.1, "b": 1.8, "c": 5.0})  # c is new coverage
    out = compare(prior, current, threshold=1.25)
    # the new query's 5s must not read as a regression of the total
    assert out["prior_total"] == 3.0
    assert out["now_total"] == 2.9
    assert out["added_total"] == 5.0
    assert out["queries"]["c"]["status"] == "new"
    assert out["regressions"] == []


def test_compare_flags_per_query_regression():
    out = compare(
        _bench({"a": 1.0, "b": 1.0}),
        _bench({"a": 1.5, "b": 0.5}),
        threshold=1.25,
    )
    assert out["regressions"] == ["a"]
    assert out["queries"]["a"]["status"] == "regressed"
    assert out["queries"]["b"]["status"] == "improved"


def test_load_bench_unwraps_driver_format():
    wrapped = {"parsed": _bench({"a": 1.0})}
    assert load_bench(wrapped)["queries"] == {"a": 1.0}


def test_canary_mismatch_overrides_loadavg_comparable():
    """Host-level throttling slows the whole machine while loadavg reads
    idle — the pure-CPU canary must flag it (and name the slow side)
    even when the loadavg rule says comparable."""
    quiet = _load(2.0, 3.0)
    prior = dict(quiet, canary_sec=1.0)
    slow_now = dict(quiet, canary_sec=1.9)
    note = _load_note(_bench({}, load=prior), _bench({}, load=slow_now))
    assert note["canary_ratio"] == 1.9
    assert note["verdict"].startswith("machine-speed-mismatch")
    assert note["loaded_side"] == "current"
    # fast-now direction names the prior side
    note2 = _load_note(
        _bench({}, load=dict(quiet, canary_sec=2.0)),
        _bench({}, load=dict(quiet, canary_sec=1.0)),
    )
    assert note2["loaded_side"] == "prior"
    # in-band canary keeps the loadavg verdict
    note3 = _load_note(
        _bench({}, load=dict(quiet, canary_sec=1.0)),
        _bench({}, load=dict(quiet, canary_sec=1.1)),
    )
    assert note3["verdict"] == "comparable"
    assert note3["canary_ratio"] == 1.1
    # canary on one side only: no canary verdict, loadavg rule stands
    note4 = _load_note(_bench({}, load=quiet), _bench({}, load=prior))
    assert "canary_ratio" not in note4


def test_io_canary_flags_scratch_fs_mismatch():
    """Scratch-FS metadata latency (which commit-latency-bound ACID
    queries ride) can stall while CPU canary and loadavg read healthy —
    the io canary must flag it; a healthy io canary changes nothing,
    and a CPU-canary verdict is never overwritten."""
    quiet = _load(2.0, 3.0)
    prior = dict(quiet, canary_sec=1.0, canary_io_sec=0.01)
    slow_io = dict(quiet, canary_sec=1.0, canary_io_sec=0.03)
    note = _load_note(_bench({}, load=prior), _bench({}, load=slow_io))
    assert note["canary_io_ratio"] == 3.0
    assert note["verdict"].startswith("scratch-io-mismatch")
    assert note["loaded_side"] == "current"
    # in-band io canary keeps the loadavg verdict
    ok = dict(quiet, canary_sec=1.0, canary_io_sec=0.012)
    note2 = _load_note(_bench({}, load=prior), _bench({}, load=ok))
    assert note2["verdict"] == "comparable"
    # a CPU mismatch verdict wins over the io note
    slow_both = dict(quiet, canary_sec=2.0, canary_io_sec=0.03)
    note3 = _load_note(_bench({}, load=prior), _bench({}, load=slow_both))
    assert note3["verdict"].startswith("machine-speed-mismatch")
    assert note3["canary_io_ratio"] == 3.0


def test_bulk_write_canary_flags_bandwidth_starvation():
    """A box can pass BOTH existing canaries (CPU healthy, metadata
    create+rename healthy) while sustained write bandwidth sits at
    4-15 MB/s, starving every shuffle write (observed r16) — the
    bulk-write canary must flag it. Note the inverted direction: the
    bulk canary is a THROUGHPUT (MB/s), so the slow side is the one
    with the SMALLER number."""
    quiet = _load(2.0, 3.0)
    prior = dict(
        quiet, canary_sec=1.0, canary_io_sec=0.01, canary_io_bulk_mbps=400.0
    )
    starved = dict(
        quiet, canary_sec=1.0, canary_io_sec=0.012, canary_io_bulk_mbps=14.0
    )
    note = _load_note(_bench({}, load=prior), _bench({}, load=starved))
    assert note["canary_io_bulk_ratio"] == 0.035
    assert note["verdict"].startswith("write-bandwidth-mismatch")
    assert note["loaded_side"] == "current"
    # a starved PRIOR box is named too (ratio > 2 the other way)
    note2 = _load_note(_bench({}, load=starved), _bench({}, load=prior))
    assert note2["loaded_side"] == "prior"
    # in-band bandwidth keeps the verdict; absent telemetry adds nothing
    ok = dict(quiet, canary_sec=1.0, canary_io_sec=0.012,
              canary_io_bulk_mbps=350.0)
    assert _load_note(
        _bench({}, load=prior), _bench({}, load=ok)
    )["verdict"] == "comparable"
    legacy = dict(quiet, canary_sec=1.0, canary_io_sec=0.012)
    note3 = _load_note(_bench({}, load=prior), _bench({}, load=legacy))
    assert "canary_io_bulk_ratio" not in note3
    assert note3["verdict"] == "comparable"
    # an existing mismatch verdict (here: scratch metadata io) is never
    # overwritten by the bulk note — advisory ratio still recorded
    slow_meta = dict(quiet, canary_sec=1.0, canary_io_sec=0.03,
                     canary_io_bulk_mbps=14.0)
    note4 = _load_note(_bench({}, load=prior), _bench({}, load=slow_meta))
    assert note4["verdict"].startswith("scratch-io-mismatch")
    assert note4["canary_io_bulk_ratio"] == 0.035


def test_canary_corrected_verdict_is_conservative_symmetric():
    """r14: with canaries on both sides a verdict needs BOTH the raw and
    the canary-corrected ratio to agree — a 2x-slower box can neither
    fake a regression (raw 2x, corrected 1.0 -> stable) nor fake an
    improvement, and a 2x-FASTER box cannot inflate non-CPU-bound
    queries into false regressions (raw 0.9, corrected 1.8 -> stable:
    the r14 hazard, since the ACID family tracks the io canary, not the
    CPU one). Genuine changes that clear both bars still flag/credit."""
    lp = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32, "canary_sec": 0.33}
    lc = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32, "canary_sec": 0.66}
    prior = _bench(
        {"env": 1.0, "realreg": 1.0, "realimp": 1.0}, load=lp
    )
    current = _bench(
        # env: 2x raw = exactly the canary ratio -> corrected 1.0 stable
        # realreg: 3x raw, corrected 1.5 -> both sides agree: regressed
        # realimp: 0.5x raw on a SLOWER box (corrected 0.25): improved
        {"env": 2.0, "realreg": 3.0, "realimp": 0.5}, load=lc
    )
    out = compare(prior, current, threshold=1.25)
    q = out["queries"]
    assert q["env"]["status"] == "stable"
    assert q["env"]["ratio_canary_norm"] == 1.0
    assert q["realreg"]["status"] == "regressed"
    assert out["regressions"] == ["realreg"]
    assert q["realimp"]["status"] == "improved"
    assert out["canary_ratio"] == 2.0
    # the flip side: a 2x-FASTER box. An untouched io-bound query reads
    # raw 0.9 / corrected 1.8 -> stable (no false alarm); an untouched
    # CPU-bound one reads raw 0.5 / corrected 1.0 -> NOT 'improved'
    # (the speedup is the machine's); a genuine regression that still
    # shows raw 1.5 on the faster box (corrected 3.0) flags.
    lf = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32, "canary_sec": 0.165}
    out2 = compare(
        prior,
        _bench({"env": 0.9, "realreg": 1.5, "realimp": 0.5}, load=lf),
        threshold=1.25,
    )
    q2 = out2["queries"]
    assert q2["env"]["status"] == "stable"
    assert q2["realimp"]["status"] == "stable"
    assert out2["regressions"] == ["realreg"]


def test_io_bound_queries_corrected_by_io_canary():
    """r14 ADVICE (medium): io-bound queries (the ACID family) must be
    corrected by the IO canary ratio, not the CPU one. On a
    CPU-throttled box (CPU ratio 2.0, io healthy) a genuine 1.5x
    io-bound regression CPU-"corrected" to 0.75 would be acquitted by
    min(raw, corrected) — the exact family the io canary exists for.
    And when the io canary is missing, an io-bound query gets a
    raw-only verdict, never the CPU correction."""
    lp = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.33, "canary_io_sec": 0.015}
    # CPU-throttled current box, scratch fs healthy
    lc = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.66, "canary_io_sec": 0.015}
    prior = _bench(
        {"x_acid_incremental_mv": 10.0, "cpu_q": 1.0}, load=lp
    )
    current = _bench(
        # a GENUINE 1.5x regression in the io-bound query: io canary
        # ratio is 1.0, so corrected == raw == 1.5 -> regressed (the
        # old CPU correction would have acquitted it at 0.75)
        {"x_acid_incremental_mv": 15.0, "cpu_q": 2.0}, load=lc
    )
    out = compare(prior, current, threshold=1.25)
    q = out["queries"]
    assert q["x_acid_incremental_mv"]["canary_family"] == "io"
    assert q["x_acid_incremental_mv"]["ratio_canary_norm"] == 1.5
    assert q["x_acid_incremental_mv"]["status"] == "regressed"
    assert q["cpu_q"]["canary_family"] == "cpu"
    assert q["cpu_q"]["status"] == "stable"  # 2x raw = the CPU throttle
    assert out["canary_io_ratio"] == 1.0
    # io-throttled box, CPU healthy: an untouched io-bound query reads
    # raw 2x but io-corrected 1.0 -> stable (symmetric acquittal still
    # works, now against the RIGHT canary)
    lc_io = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
             "canary_sec": 0.33, "canary_io_sec": 0.030}
    out2 = compare(
        prior,
        _bench({"x_acid_incremental_mv": 20.0, "cpu_q": 1.0}, load=lc_io),
        threshold=1.25,
    )
    assert out2["queries"]["x_acid_incremental_mv"]["status"] == "stable"
    assert out2["regressions"] == []
    # io canary missing on one side: io-bound query is raw-only (no
    # ratio_canary_norm, no CPU fallback), so a 1.5x raw flags
    lc_nocio = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
                "canary_sec": 0.66}
    out3 = compare(
        prior,
        _bench({"x_acid_incremental_mv": 15.0, "cpu_q": 1.0}, load=lc_nocio),
        threshold=1.25,
    )
    q3 = out3["queries"]["x_acid_incremental_mv"]
    assert "ratio_canary_norm" not in q3
    assert q3["status"] == "regressed"


def test_canary_median_selection_from_samples():
    """r15 verdict #3: with start/mid/end canary samples published, the
    comparison uses the MEDIAN, so one sample landing in a fast (or
    slow) throttle window cannot set the correction factor. A prior at
    0.33 vs current samples [0.264, 0.66, 0.66]: the one-point form
    would read 0.8x (fast box) and inflate corrections; the median says
    2x slow."""
    lp = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32, "canary_sec": 0.33}
    lc = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          # scalar disagrees with the samples on purpose: samples win
          "canary_sec": 0.264,
          "canary_samples_sec": [0.264, 0.66, 0.66]}
    prior = _bench({"q": 1.0}, load=lp)
    current = _bench({"q": 2.0}, load=lc)
    out = compare(prior, current, threshold=1.25)
    assert out["canary_ratio"] == 2.0           # median 0.66 / 0.33
    assert out["queries"]["q"]["status"] == "stable"  # machine, not code
    # even-length sample list: median is the midpoint average
    lc2 = dict(lc, canary_samples_sec=[0.33, 0.99])
    out2 = compare(prior, _bench({"q": 2.0}, load=lc2), threshold=1.25)
    assert out2["canary_ratio"] == 2.0          # (0.33+0.99)/2 = 0.66


def test_high_canary_variance_is_unadjudicatable():
    """A run whose own canary samples swing more than 1.3x has no valid
    single correction factor: the load note must say rerun, naming the
    side, and record the spread."""
    lp = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.33, "canary_samples_sec": [0.33, 0.33, 0.34]}
    lc = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.6, "canary_samples_sec": [0.48, 0.6, 1.68]}
    note = _load_note(_bench({}, load=lp), _bench({}, load=lc))
    assert note["verdict"].startswith("unadjudicatable-high-canary-variance")
    assert "current" in note["verdict"]
    assert note["current_canary_spread"] == 3.5
    assert note["prior_canary_spread"] == round(0.34 / 0.33, 3)
    # tight samples on both sides: no false alarm
    note2 = _load_note(_bench({}, load=lp), _bench({}, load=dict(
        lc, canary_samples_sec=[0.6, 0.6, 0.62])))
    assert "unadjudicatable" not in note2["verdict"]


def test_io_bound_classification_is_explicit_not_substring():
    """r15 ADVICE (medium): io-bound classification must come from the
    bench files' own canary_families field (or the pinned fallback
    list), never a substring match — t_streaming_dml_replica has no
    'acid' in its name but is commit-protocol-bound, and a hypothetical
    'x_acidity_score' query must NOT be io-corrected."""
    lp = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.33, "canary_io_sec": 0.015}
    lc = {"start_1m": 0.1, "end_5m": 0.1, "cpus": 32,
          "canary_sec": 0.66, "canary_io_sec": 0.015}
    prior = _bench({"t_streaming_dml_replica": 10.0, "x_acidity_score": 1.0},
                   load=lp)
    current = _bench({"t_streaming_dml_replica": 15.0, "x_acidity_score": 2.0},
                     load=lc)
    # fallback list path (files without canary_families): dml_replica is
    # io-corrected (genuine 1.5x flags on the CPU-throttled box);
    # the 'acid' SUBSTRING query tracks the CPU canary and is acquitted
    out = compare(prior, current, threshold=1.25)
    q = out["queries"]
    assert q["t_streaming_dml_replica"]["canary_family"] == "io"
    assert q["t_streaming_dml_replica"]["status"] == "regressed"
    assert q["x_acidity_score"]["canary_family"] == "cpu"
    assert q["x_acidity_score"]["status"] == "stable"
    # in-band path: canary_families overrides the fallback entirely
    current2 = dict(current)
    current2["canary_families"] = {"t_streaming_dml_replica": "cpu",
                                   "x_acidity_score": "io"}
    out2 = compare(prior, current2, threshold=1.25)
    assert out2["queries"]["t_streaming_dml_replica"]["canary_family"] == "cpu"
    assert out2["queries"]["x_acidity_score"]["canary_family"] == "io"


def test_bench_families_partition_and_io_list_sync():
    """Every benched query belongs to exactly one --families group, and
    the benched io-bound queries are exactly the 'acid' family
    (bench.py and bench_compare read one list, tools/query_families.py)."""
    import bench as bench_mod

    from data_pipeline_kafka_ek_spark.plans import extensions  # noqa: F401
    from data_pipeline_kafka_ek_spark.plans.catalog import bench_queries

    benched = set(bench_queries())
    for name in benched:
        fams = [f for f, names in bench_mod.QUERY_FAMILIES.items()
                if name in names]
        assert len(fams) == 1, f"{name} in {fams}"
    # family members that are not benched would silently no-op a filter
    grouped = set().union(*bench_mod.QUERY_FAMILIES.values())
    assert grouped == benched, grouped ^ benched
    # the benched io-bound queries are exactly the 'acid' A/B family
    assert bench_mod.IO_BOUND_QUERIES & benched == bench_mod.QUERY_FAMILIES["acid"]


def test_bench_compare_imports_no_engine_code():
    """Comparing two bench JSON files needs the standard library only:
    importing bench_compare loads neither pyspark nor bench.py."""
    import subprocess

    tools = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
    )
    probe = (
        f"import sys; sys.path.insert(0, {tools!r}); import bench_compare; "
        "print(sorted(m for m in ('pyspark', 'bench') if m in sys.modules))"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe], capture_output=True, text=True,
        check=True,
    )
    assert out.stdout.strip() == "[]", out
