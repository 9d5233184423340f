"""Unit tests for bench.py's rep-decision protocol (should_run_rep),
replayed against the recorded rep sequences from rounds 6-9 so the
convergence guards that fixed past artifacts cannot silently regress.

No Spark needed — the decision function is pure.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
sys.modules.setdefault("bench", bench)
_spec.loader.exec_module(bench)

FLOORS = {
    "smj": 5.4,
    "shj": 5.5,
    "groupby": 0.48,
    "bucketed": 0.70,
}


def replay(seq, adaptive, floor):
    """Feed the sequence rep by rep; return how many reps ran."""
    r = []
    for rep in range(bench.MAX_REPS + 1):
        if not bench.should_run_rep(r, rep, adaptive, floor):
            continue
        if len(r) < len(seq):
            r.append(seq[len(r)])
        else:  # protocol wants more reps than the archive recorded:
            r.append(seq[-1])  # box keeps returning the same time
    return r


def test_min_reps_always_run():
    assert len(replay([1.0, 1.0, 1.0], adaptive=False, floor=None)) >= 3


def test_non_adaptive_capped_at_max_reps():
    # diverging junk still stops at MAX_REPS without the +1 slot
    r = replay([5, 4, 3, 2, 1], adaptive=False, floor=None)
    assert len(r) <= bench.MAX_REPS


def test_converged_stops_at_min_reps():
    r = replay([1.00, 1.01, 1.02, 9, 9], adaptive=True, floor=0.95)
    assert len(r) == 3


def test_r9_shj_loaded_box_keeps_burning_reps():
    """The round-9 weak row: [9.68, 6.70, 7.02] passed the old
    converged check (spread 1.44, not descending) and recorded a min
    20% above the 5.54-5.63 s idle record. The floor guard must keep
    the sequence running to the adaptive cap."""
    r = replay([9.68, 6.70, 7.02, 6.9, 6.8, 6.85], adaptive=True,
               floor=FLOORS["shj"])
    assert len(r) == bench.MAX_REPS + 1  # every slot spent hunting
    # and when a late rep DOES reach the floor, the min is honest
    r2 = replay([9.68, 6.70, 7.02, 5.58, 5.55], adaptive=True,
                floor=FLOORS["shj"])
    assert min(r2) <= 5.58


def test_r9_shj_idle_box_stops_early():
    """Same row on the idle box (r8 record 5.75/5.54-class): floor
    satisfied, converged at MIN_REPS — no wasted reps."""
    r = replay([7.9, 5.60, 5.55], adaptive=True, floor=FLOORS["shj"])
    assert len(r) == 3


def test_r8_groupby_still_descending():
    """r9 fix regression: [3.66, ..., 0.48] — a descending sequence
    must not stop while the last rep is still the strict min."""
    seq = [3.66, 1.2, 0.9, 0.55, 0.48, 0.478]
    r = replay(seq, adaptive=True, floor=FLOORS["groupby"])
    assert min(r) <= 0.49


def test_r9_bucketed_convergence():
    """r9 record [1.99, 0.82, 0.76, 0.71, 0.70]: spread > 1.5 keeps
    it going past MIN_REPS until the floor is reached."""
    r = replay([1.99, 0.82, 0.76, 0.71, 0.70], adaptive=True,
               floor=FLOORS["bucketed"])
    assert min(r) == 0.70


def test_floor_never_blocks_a_genuinely_faster_box():
    """A min BELOW the floor is success, not suspicion: converged
    sub-floor sequences stop at MIN_REPS."""
    r = replay([0.45, 0.44, 0.44], adaptive=True, floor=FLOORS["groupby"])
    assert len(r) == 3


def test_no_floor_behaves_like_r9_protocol():
    """At reduced micro scale KNOWN_FLOORS is empty: the r9-era
    spread + still-descending guards remain, nothing more."""
    r = replay([9.68, 6.70, 7.02], adaptive=True, floor=None)
    assert len(r) == 3  # the r9 behavior, preserved when unscaled


# ---- r11: the parent's group-budget policy, as a pure function ----
from bench import GROUP_FLOOR, GROUP_ORDER, group_budget  # noqa: E402


def test_group_budget_marquee_floors_always_hold():
    """However squeezed the wall, a launched marquee group (join100,
    bucketed) gets at least its floor — the r11 full-run failure was
    join100 at 88s -> single cold reps."""
    for remaining in (45, 60, 100, 150, 224, 300, 460):
        for gi, group in enumerate(GROUP_ORDER):
            b = group_budget(gi, group, float(remaining))
            assert b is not None
            assert b >= GROUP_FLOOR.get(group, 60.0), (group, remaining, b)


def test_group_budget_skip_threshold():
    """Only the CONTEXT groups (duckdb controls) and agg100 — which
    run first, so a blown wall at their turn means a pathological
    headline phase — may still be skipped outright."""
    assert group_budget(0, "duckdb", 44.9) is None
    assert group_budget(1, "agg100", 30.0) is None


def test_group_budget_floors_fit_cap():
    """r14 (VERDICT r13 #1): no group's grant may eat the wall the
    later groups' floors need — both r13 driver runs reached the
    light group with <= 3s remaining and dropped its five headline
    rows. The cap never cuts a group below its OWN floor."""
    for remaining in (150.0, 250.0, 420.0, 800.0):
        for gi, group in enumerate(GROUP_ORDER):
            b = group_budget(gi, group, remaining)
            later_floors = sum(
                GROUP_FLOOR.get(g, 60.0) for g in GROUP_ORDER[gi + 1:]
            )
            cap = max(remaining - later_floors, GROUP_FLOOR.get(group, 60.0))
            assert b <= cap, (group, remaining, b, cap)
    # concrete r13-8core replay: at duckdb's turn 417s remained and
    # the old policy granted floors summing past the wall; now every
    # later floor still fits after duckdb's grant (or duckdb is at
    # its own floor, the only allowed exception)
    b = group_budget(0, "duckdb", 417.0)
    assert b == GROUP_FLOOR["duckdb"]


def test_group_budget_join100_keeps_floor_under_cap():
    """The r11 lesson stands under the generalized cap: join100 is
    never granted below its floor while launched normally."""
    gi = GROUP_ORDER.index("join100")
    for remaining in (150, 224, 300):
        b = group_budget(gi, "join100", float(remaining))
        assert b >= GROUP_FLOOR["join100"], (remaining, b)


def test_group_budget_headline_groups_never_skipped():
    """r11 gave bucketed a rescue; r14 extends it to join100 and
    light after the r13 driver run dropped both join100 rows and all
    five light rows. A blown wall yields a reduced budget, never a
    skip, for any group carrying headline rows that a skip would
    erase from the artifact."""
    from bench import GROUP_RESCUE

    for group in ("join100", "bucketed", "light"):
        gi = GROUP_ORDER.index(group)
        assert group_budget(gi, group, -10.0) == GROUP_RESCUE[group]
        assert group_budget(gi, group, 44.0) == GROUP_RESCUE[group]
        # above the threshold the normal floor applies
        assert group_budget(gi, group, 200.0) >= GROUP_FLOOR.get(group, 60.0)


def test_stderr_tail_caps_and_flattens(tmp_path):
    """r13: the child-stderr tee must survive the artifact's one-line
    JSON contract — last N lines only, newline-flattened, char-capped,
    and resilient to a missing file."""
    from bench import _stderr_tail

    p = tmp_path / "err.log"
    p.write_text("\n".join(f"line{i}" for i in range(100)) + "\n")
    tail = _stderr_tail(str(p), lines=30, chars=3000)
    assert "\n" not in tail
    assert "line99" in tail and "line70" in tail
    assert "line69" not in tail  # only the last 30 lines
    # char cap keeps the END of the tail (the exception is last)
    long = tmp_path / "long.log"
    long.write_text("x" * 10000 + "\nTHE-ERROR\n")
    capped = _stderr_tail(str(long), lines=30, chars=100)
    assert len(capped) <= 100 and "THE-ERROR" in capped
    assert _stderr_tail(str(tmp_path / "absent.log")) == "<stderr unavailable>"


def test_watchdog_zero_row_deferral_predicate():
    """r14 run-4 failure: a load spike made setup + rep-1 outrun the
    watchdog's deadline+60 and the cancel erased the whole join100
    group (rc 0, zero rows). The watchdog may take the early (+60)
    cancel ONLY when every expected micro row already has a flushed
    rep; a missing row — or micros not built yet — defers to +100."""
    from bench import rows_all_landed

    # micros not built yet (e.g. bucketed writes still running)
    assert not rows_all_landed([], set())
    # rows missing -> defer
    assert not rows_all_landed(["smj", "shj"], set())
    assert not rows_all_landed(["smj", "shj"], {"smj"})
    # every expected row flushed -> early cancel allowed
    assert rows_all_landed(["smj", "shj"], {"smj", "shj"})
    # extra landed names (stale state) must not block the cancel
    assert rows_all_landed(["smj"], {"smj", "shj"})


def test_cache_clear_failure_is_noted_and_other_steps_run():
    """A failing cache clear lands in the artifact's notes instead of
    killing the bench."""

    class Catalog:
        def clearCache(self):
            raise RuntimeError("gateway gone")

    class Spark:
        catalog = Catalog()

    notes: list[str] = []
    bench._clear_engine_caches(Spark(), notes)
    assert notes == ["cache clear catalog.clearCache: RuntimeError"]


def test_watchdog_cancel_during_warm_pass_exits_cleanly(spark, tmp_path, monkeypatch):
    """A watchdog cancel that lands in the untimed warm pass stops the
    micro child cleanly (it returns, so the process exits 0) with an
    empty runs file; the parent then lists the group's rows as
    incomplete. The stub session's every action blocks until
    cancelAllJobs() and then raises, as a cancelled Spark job does."""
    import threading

    class Blocked:
        """A DataFrame (or writer) whose actions wait for the cancel."""

        def __init__(self, cancel: threading.Event):
            self.cancel = cancel

        def __getattr__(self, name):
            return self

        def __call__(self, *args, **kwargs):
            return self

        def collect(self):
            self.cancel.wait(60)
            raise RuntimeError("job cancelled")

        save = collect

    class StubSpark:
        def __init__(self):
            self.cancel = threading.Event()
            self.sparkContext = self

        def cancelAllJobs(self):
            self.cancel.set()

        def range(self, *args, **kwargs):
            return Blocked(self.cancel)

        def stop(self):
            pass

    stub = StubSpark()
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", "1g")
    monkeypatch.setattr(
        bench, "_mk_spark", lambda *a, **k: (stub, str(tmp_path / "wh"))
    )
    runs = tmp_path / "runs.jsonl"
    # a budget already 100 s spent puts the watchdog past its
    # zero-row horizon at once
    bench.run_micro_child("light", str(runs), -100.0)
    assert stub.cancel.is_set()
    assert runs.read_text() == ""
