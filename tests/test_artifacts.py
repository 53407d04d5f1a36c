"""Round-evidence guard: driver artifacts on disk must be git-tracked.

Round 5's ``CORRECTNESS_r05.json`` / ``BENCH_r05.json`` vanished (never
committed), erasing the only driver evidence for 25 workloads. This test
makes the failure loud: any ``CORRECTNESS_r*.json`` / ``BENCH_r*.json``
sitting untracked in the repo root turns the suite red until committed.
"""

from __future__ import annotations

import subprocess
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _tracked(pattern: str) -> set[str]:
    out = subprocess.run(
        ["git", "ls-files", pattern],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    return set(out.stdout.split())


def test_driver_artifacts_are_git_tracked():
    # Artifacts newer than HEAD are the driver's post-final-commit writes
    # (it records round N's JSONs AFTER the round's last commit, so every
    # end-of-round snapshot would otherwise carry this red — round-7
    # verdict); they're exempt here and picked up by the next round's
    # first commit.
    head_time = int(
        subprocess.run(
            ["git", "log", "-1", "--format=%ct"],
            cwd=REPO,
            capture_output=True,
            text=True,
            check=True,
        ).stdout.strip()
    )
    # Bounded margin (round-9, advice item): an unbounded "newer than HEAD"
    # exemption would also exempt genuinely-untracked old artifacts after a
    # workspace restore refreshes every mtime (round 5's were lost exactly
    # that way). The driver writes round N's JSONs minutes after the final
    # commit and round N+1's first commit must track them, so 48 h is ample.
    exempt_until = head_time + 48 * 3600
    on_disk = {
        p.name
        for pat in ("CORRECTNESS_r*.json", "BENCH_r*.json")
        for p in REPO.glob(pat)
        if not (head_time < p.stat().st_mtime <= exempt_until)
    }
    tracked = _tracked("CORRECTNESS_r*.json") | _tracked("BENCH_r*.json")
    untracked = sorted(on_disk - tracked)
    assert not untracked, (
        f"driver artifacts not committed: {untracked} — round evidence "
        "disappears on workspace reset (round 5's did); `git add` them"
    )


def test_bench_artifact_tail_is_self_contained():
    """Round-16 (r15 verdict item 1): the driver archives only the FINAL
    2000 chars of bench stdout, and round 14's baseline was LOST when the
    4-decimal 64-query line outgrew that window (``parsed: null`` →
    PERF_r15 had no geomean). The stdout line must now be a complete JSON
    under 2000 chars with the REAL 64 bench query names even at
    pessimistic (two-digit-seconds) values; the full-precision per-pass
    detail ships separately on stderr."""
    import json
    import sys

    sys.path.insert(0, str(REPO))
    import bench

    # Pessimistic: every query takes 99.99 s (wider than anything ever
    # recorded — BENCH_r15's worst contended query was 9.6 s).
    def summaries(best):
        return {
            n: bench.summarize(
                [321.4567, best, best + 11.2469, best + 23.4691],
                31.46 if i < 19 else 1.0,
            )
            for i, n in enumerate(bench.BENCH_QUERIES)
        }

    timings = {n: 99.9876 for n in bench.BENCH_QUERIES}
    sentinel = {
        "floor_sec": 0.1941,
        "load_start": [13.35, 20.61, 11.85],
        "load_end": [3.56, 6.59, 8.75],
    }
    machine = {"cpu_count": 4, "master": "local[4]", "driver_memory": "7g",
               "spark": "4.1.2"}
    line, detail = bench.render_artifact(
        summaries(99.9876), sentinel, machine, 0.1
    )
    assert len(line) < 2000, (
        f"stdout artifact line is {len(line)} chars — the driver's "
        "2000-char tail would truncate it (this is how BENCH_r14 was lost)"
    )
    parsed = json.loads(line)
    assert parsed["metric"] == "workload_total_runtime"
    assert parsed["unit"] == "sec"
    assert parsed["sf"] == 0.1
    assert parsed["value"] == 6399.21
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)
    assert all(v == 99.99 for v in parsed["queries"].values())
    # The stderr detail line keeps everything the compact line drops.
    det = json.loads(detail)
    assert set(det["passes"]) == set(bench.BENCH_QUERIES)
    assert det["queries"] == timings
    assert det["medians"] == {n: 111.2345 for n in bench.BENCH_QUERIES}
    assert det["sentinel"]["contended"]
    assert det["machine"] == machine
    # Degenerate widths (a 1000+s contention blowout on every query) must
    # still fit via the shrink cascade — lower precision, never truncation.
    line3, _ = bench.render_artifact(
        summaries(9999.9876), sentinel, machine, 0.1
    )
    assert len(line3) < 2000
    parsed3 = json.loads(line3)
    assert set(parsed3["queries"]) == set(bench.BENCH_QUERIES)
    assert parsed3["value"] >= 639999
    # Typical-values case: the compact contention summary fits too.
    line2, _ = bench.render_artifact(summaries(3.4567), sentinel, machine, 0.1)
    assert len(line2) < 2000
    parsed2 = json.loads(line2)
    assert parsed2["value"] == 221.23
    assert parsed2["contention"][0] == 19
    assert parsed2["contention"][1] == 31.46


def test_bench_summary_counts_warm_passes_only():
    """A query's headline number is the min of its warm passes and never
    its cold pass, even when the cold pass happened to be the fastest
    (ann_hard_negatives once recorded its cold 0.434 s that way); the
    sentinel ratio is a flag only above 1.2."""
    import sys

    sys.path.insert(0, str(REPO))
    from bench import summarize

    s = summarize([0.434, 0.590, 0.612, 0.571], 1.0)
    assert (s.min, s.median, s.contention) == (0.571, 0.590, None)
    assert s.passes == [0.434, 0.590, 0.612, 0.571]
    s = summarize([9.0, 4.2, 28.1, 4.4], 1.2)
    assert (s.min, s.median, s.contention) == (4.2, 4.4, None)
    assert summarize([1.0, 0.5, 0.5, 0.5], 1.2345).contention == 1.23
    # the median of the warm passes ignores one slow outlier the min hides
    s = summarize([2.0, 1.0, 3.0, 1.1], 0.9)
    assert (s.min, s.median) == (1.0, 1.1)
