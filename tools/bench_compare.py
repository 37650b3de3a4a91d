"""Round-over-round bench regression diff.

Compares a fresh ``bench.py`` JSON line (stdin or file) against a prior
round's ``BENCH_r{N}.json`` (the driver's wrapper format, or a raw bench
line) and prints ONE JSON line with per-query deltas plus a
regression/improvement verdict, so perf drift is visible in-repo before
the judge reads the round files. Usage::

    python bench.py | tail -1 | python tools/bench_compare.py BENCH_r01.json
    python tools/bench_compare.py BENCH_r01.json new_bench.json

Exit code 1 when any query regresses more than ``--threshold`` (default
1.25x) — usable as a pre-commit perf gate.
"""

from __future__ import annotations

import argparse
import json
import sys


def load_bench(path_or_obj) -> dict:
    """Accept either the driver's wrapper ({"parsed": {...}}) or a raw
    bench.py line ({"metric": ..., "queries": {...}})."""
    if isinstance(path_or_obj, dict):
        obj = path_or_obj
    else:
        with open(path_or_obj) as f:
            obj = json.load(f)
    if "parsed" in obj and isinstance(obj["parsed"], dict):
        obj = obj["parsed"]
    if "queries" not in obj:
        raise SystemExit(f"no 'queries' in bench input: {list(obj)[:8]}")
    return obj


# Fallback io-bound classification for bench files that predate the
# in-band ``canary_families`` field (r16): the explicit name list
# bench.py emits from, never a substring heuristic — "'acid' in name" misclassified
# t_streaming_dml_replica, an ACID feed twin (it runs TxnLogTable
# merges per micro-batch in foreachBatch) whose cost is commit-protocol
# scratch-fs latency.
from query_families import IO_BOUND_QUERIES  # noqa: E402


def _is_io_bound(name: str, families: dict) -> bool:
    """The ACID feed twins are io-bound: their cost is commit-count ×
    scratch-filesystem latency (the create+rename loops of the commit
    protocol), which is exactly what bench.py's ``canary_io_sec``
    measures and what the CPU canary does NOT track. The classification
    is read from the bench files' own ``canary_families`` (bench.py
    emits it per timed query); the pinned name list only covers files
    from rounds before the field existed."""
    fam = families.get(name)
    if fam is not None:
        return fam == "io"
    return name in IO_BOUND_QUERIES


def _median_canary(load: dict, key: str, samples_key: str):
    """Prefer the median over the published multi-sample list (r15
    verdict #3: a one-point canary under-resolves intra-day throttle
    swings); fall back to the scalar for pre-r16 files."""
    samples = (load or {}).get(samples_key)
    if samples:
        vals = sorted(float(s) for s in samples)
        return vals[len(vals) // 2] if len(vals) % 2 else (
            (vals[len(vals) // 2 - 1] + vals[len(vals) // 2]) / 2
        )
    v = (load or {}).get(key)
    return float(v) if v else None


def compare(prior: dict, current: dict, threshold: float) -> dict:
    pq, cq = prior["queries"], current["queries"]
    # canary normalization (r13 verdict #8): when BOTH runs carry the
    # pure-CPU canary, the verdict is CONSERVATIVE SYMMETRIC — a query
    # counts as regressed only if BOTH the raw ratio and the canary-
    # corrected ratio exceed the threshold, and improved only if BOTH
    # clear the improvement bar. Rationale: a slower current box
    # inflates raw ratios (corrected acquits them), while a FASTER
    # current box deflates raw ratios and the correction then inflates
    # non-CPU-bound queries — requiring both sides to agree means
    # machine-speed swings in either direction can neither fake nor
    # award a verdict. The cost is a miss when a real change is exactly
    # cancelled by an opposite machine swing; both ratios are recorded
    # for human review.
    #
    # PER-FAMILY canary (r14 ADVICE, medium): io-bound queries (the
    # ACID family) are corrected by the IO canary ratio, never the CPU
    # one — on a CPU-throttled box (CPU ratio 2.0, io healthy) a
    # genuine 1.5x io-bound regression would be "corrected" to 0.75 and
    # min(raw, corrected) would acquit it, a systematic false-negative
    # window for exactly the family the io canary exists for. When an
    # io-bound query lacks io-canary telemetry on either side, it gets
    # NO correction (raw-only verdict) rather than the wrong canary.
    cp = _median_canary(prior.get("load"), "canary_sec", "canary_samples_sec")
    cc = _median_canary(current.get("load"), "canary_sec", "canary_samples_sec")
    canary_ratio = round(cc / cp, 3) if cp and cc else None
    cip = _median_canary(
        prior.get("load"), "canary_io_sec", "canary_io_samples_sec"
    )
    cic = _median_canary(
        current.get("load"), "canary_io_sec", "canary_io_samples_sec"
    )
    canary_io_ratio = round(cic / cip, 3) if cip and cic else None
    families = {
        **(prior.get("canary_families") or {}),
        **(current.get("canary_families") or {}),
    }
    deltas, regressions = {}, []
    for name in sorted(set(pq) | set(cq)):
        if name not in pq:
            deltas[name] = {"prior": None, "now": cq[name], "ratio": None,
                            "status": "new"}
        elif name not in cq:
            deltas[name] = {"prior": pq[name], "now": None, "ratio": None,
                            "status": "removed"}
        else:
            ratio = round(cq[name] / pq[name], 3) if pq[name] else None
            corrected = ratio
            d = {"prior": pq[name], "now": cq[name], "ratio": ratio}
            io_bound = _is_io_bound(name, families)
            family_ratio = canary_io_ratio if io_bound else canary_ratio
            if ratio is not None and family_ratio:
                corrected = round(ratio / family_ratio, 3)
                d["ratio_canary_norm"] = corrected
                d["canary_family"] = "io" if io_bound else "cpu"
            status = (
                "regressed"
                if ratio is not None
                and min(ratio, corrected) > threshold
                else "improved"
                if ratio is not None
                and max(ratio, corrected) < 1 / threshold
                else "stable"
            )
            if status == "regressed":
                regressions.append(name)
            d["status"] = status
            deltas[name] = d
    # totals over the INTERSECTION only: a round that ADDS headline
    # queries must not read as a regression (and one that drops them must
    # not read as an improvement) — the raw file totals are kept for
    # reference, the ratio is shared-set only
    shared = set(pq) & set(cq)
    shared_prior = round(sum(pq[n] for n in shared), 3)
    shared_now = round(sum(cq[n] for n in shared), 3)
    return {
        "metric": "bench_delta_vs_prior",
        "prior_total": shared_prior,
        "now_total": shared_now,
        "total_ratio": (
            round(shared_now / shared_prior, 3) if shared_prior else None
        ),
        "total_ratio_canary_norm": (
            round(shared_now / shared_prior / canary_ratio, 3)
            if shared_prior and canary_ratio
            else None
        ),
        "canary_ratio": canary_ratio,
        "canary_io_ratio": canary_io_ratio,
        "file_totals": {
            "prior": prior.get("value"), "now": current.get("value"),
        },
        "added_total": round(
            sum(cq[n] for n in cq if n not in pq), 3
        ),
        "threshold": threshold,
        "regressions": regressions,
        "load": _load_note(prior, current),
        "queries": deltas,
    }


def _load_note(prior: dict, current: dict) -> "dict | None":
    """Adjudicate environmental noise: when either run recorded machine
    load (bench.py's ``load`` block), normalize the pre-run 1-minute
    average by the cpu count and flag a comparison whose two runs saw
    materially different box load — per-query ratios from such a pair
    are environmental until proven otherwise."""
    lp, lc = prior.get("load"), current.get("load")
    if not lp or not lc:
        missing = (
            "either" if not lp and not lc else "prior" if not lp else "current"
        )
        return {"verdict": f"no-load-telemetry-in-{missing}"}

    def norm(entry: dict) -> float:
        cpus = max(1, int(entry.get("cpus") or 1))
        return max(
            float(entry.get("start_1m") or 0.0),
            float(entry.get("end_5m") or 0.0),
        ) / cpus

    np_, nc = norm(lp), norm(lc)
    # "materially different" — the recorded rule: normalized load delta
    # >= 0.25 (a quarter of the box), OR the larger side is both >= 0.3
    # absolute and >= 2.5x the smaller (one quiet run vs one busy run)
    noisy = abs(nc - np_) >= 0.25 or (
        max(np_, nc) >= 0.3 and max(np_, nc) >= 2.5 * max(min(np_, nc), 0.04)
    )
    loaded_side = None
    if noisy:
        loaded_side = "current" if nc > np_ else "prior"
    out = {
        "prior_norm_load": round(np_, 3),
        "now_norm_load": round(nc, 3),
        "rule": (
            "normalized = max(start_1m, end_5m)/cpus; mismatch when "
            "|delta| >= 0.25 or larger >= 0.3 and >= 2.5x smaller; "
            "canary mismatch when its ratio is outside [0.8, 1.25]"
        ),
        "loaded_side": loaded_side,
        "verdict": (
            f"load-mismatch ({loaded_side} run was the loaded one): "
            "timing ratios may be environmental"
            if noisy
            else "comparable"
        ),
    }
    # the pure-CPU canary sees what loadavg cannot: host-level
    # throttling/steal slowing the whole machine while it reads idle.
    # A canary mismatch overrides a loadavg-comparable verdict — every
    # per-query ratio is scaled by machine speed.
    cp = _median_canary(lp, "canary_sec", "canary_samples_sec")
    cc = _median_canary(lc, "canary_sec", "canary_samples_sec")
    if cp and cc:
        cr = round(cc / cp, 3)
        out["canary_ratio"] = cr
        if cr > 1.25 or cr < 0.8:
            slow = "current" if cr > 1 else "prior"
            out["loaded_side"] = slow
            out["verdict"] = (
                f"machine-speed-mismatch (canary x{cr}: the {slow} run's "
                "machine was slower): timing ratios are environmental "
                "until rescaled"
            )
    # intra-run throttle swings (r15: 0.48–1.68 within one afternoon):
    # when a run's own start/mid/end canary samples disagree by more
    # than 1.3x, no single correction factor is valid for that run —
    # the comparison is unadjudicatable and must be rerun, overriding
    # every verdict above.
    for side, entry in (("prior", lp), ("current", lc)):
        samples = [float(s) for s in (entry.get("canary_samples_sec") or [])]
        if samples:
            spread = round(max(samples) / min(samples), 3)
            out[f"{side}_canary_spread"] = spread
            if spread > 1.3:
                out["verdict"] = (
                    f"unadjudicatable-high-canary-variance (the {side} "
                    f"run's CPU canary swung x{spread} within the run): "
                    "rerun before trusting any per-query ratio"
                )
    # the filesystem-metadata canary sees what BOTH the above cannot:
    # scratch-FS latency (page-cache pressure, writeback stalls) that
    # dominates the ACID-table queries' commit-protocol wall time while
    # CPU and loadavg read healthy. Wider band than the CPU canary —
    # metadata latency is inherently noisier.
    ip, ic = lp.get("canary_io_sec"), lc.get("canary_io_sec")
    if ip and ic:
        ir = round(float(ic) / float(ip), 3)
        out["canary_io_ratio"] = ir
        if (ir > 2.0 or ir < 0.5) and out["verdict"] == "comparable":
            slow = "current" if ir > 1 else "prior"
            out["loaded_side"] = slow
            out["verdict"] = (
                f"scratch-io-mismatch (io canary x{ir}: the {slow} run's "
                "filesystem was slower): commit-latency-bound query "
                "ratios are environmental until rescaled"
            )
    # sustained-write-bandwidth canary (r16): a box can pass BOTH
    # canaries above while bulk write sits at 4-15 MB/s (observed: the
    # metadata loop read 0.014 s — healthy — on a box whose fsync'd
    # 128 MB probe did 4 MB/s), starving every shuffle write and
    # inflating shuffle-heavy queries 3-7x. Ratio > 2x either way makes
    # shuffle-heavy comparisons environmental.
    bp, bc = lp.get("canary_io_bulk_mbps"), lc.get("canary_io_bulk_mbps")
    if bp and bc:
        br = round(float(bc) / float(bp), 3)
        out["canary_io_bulk_ratio"] = br
        if (br < 0.5 or br > 2.0) and out["verdict"] == "comparable":
            slow = "current" if br < 1 else "prior"
            out["loaded_side"] = slow
            out["verdict"] = (
                f"write-bandwidth-mismatch (bulk-write canary x{br}: the "
                f"{slow} run's disk was slower): shuffle-heavy query "
                "ratios are environmental until rescaled"
            )
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("prior", help="prior round file (BENCH_rNN.json or raw)")
    ap.add_argument("current", nargs="?",
                    help="current bench file; omitted = read one line from stdin")
    ap.add_argument("--threshold", type=float, default=1.25,
                    help="regression ratio gate (default 1.25)")
    args = ap.parse_args()

    prior = load_bench(args.prior)
    if args.current:
        current = load_bench(args.current)
    else:
        current = load_bench(json.loads(sys.stdin.readline()))

    result = compare(prior, current, args.threshold)
    print(json.dumps(result))
    return 1 if result["regressions"] else 0


if __name__ == "__main__":
    raise SystemExit(main())
