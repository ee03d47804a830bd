"""Frontier head-cache (docs/SEMANTICS.md §6b): the persisted per-host
top-m ready queue must be a pure optimization — byte-identical schedules
with it on or off, across refill boundaries and under a binding budget.
(The standard parity suite runs with the head ON — this file pins the
equivalence to the non-cached path explicitly.)"""

import dataclasses

from ccrawler_spark import testing as tt
from ccrawler_spark.conf import TINY

ROUNDS = 6  # head_multiple=4 → refill at round 4: the window crosses it

NO_HEAD = dataclasses.replace(TINY, head_multiple=0)
# head_multiple=1 would refill every round: it takes the plain path
HEAD_ONE = dataclasses.replace(TINY, head_multiple=1)


def _run(spark, out, conf):
    _, store, _ = tt.engine_run(spark, "tiny", str(out), rounds=ROUNDS,
                                conf=conf)
    return store


def test_head_on_off_equivalence(spark, tiny_fixtures, tmp_path_factory):
    s_off = _run(spark, tmp_path_factory.mktemp("head_off"), NO_HEAD)
    stores = {
        name: _run(spark, tmp_path_factory.mktemp(name), conf)
        for name, conf in (("head_on", TINY), ("head_one", HEAD_ONE))
    }
    for name, s in stores.items():
        assert tt.engine_fetch_sequence(s) == tt.engine_fetch_sequence(
            s_off
        ), name
        for r in range(ROUNDS + 1):
            assert tt.engine_frontier_urls(s, r) == tt.engine_frontier_urls(
                s_off, r
            ), f"{name}: frontier mismatch after round {r}"
        assert tt.engine_seen(s, ROUNDS) == tt.engine_seen(s_off, ROUNDS), name
    # head_multiple=1 writes no head: every manifest records none
    assert all(
        stores["head_one"].read_manifest(r)["frontier"]["head"] is None
        for r in range(ROUNDS + 1)
    )


def test_head_refill_cadence(spark, tiny_fixtures, tmp_path_factory):
    """since_refill must cycle with period head_multiple - 1 and a
    refill (reset to 0) must actually occur inside the run."""
    store = _run(spark, tmp_path_factory.mktemp("head_cadence"), TINY)
    seq = [
        store.read_manifest(r)["frontier"]["head"]["since_refill"]
        for r in range(ROUNDS + 1)
    ]
    assert seq == [0, 1, 2, 3, 0, 1, 2]


def test_head_binding_budget_equivalence(spark, tiny_fixtures,
                                         tmp_path_factory):
    """Budget below H·k forces the anti-join survivor path — schedules
    must still match the non-cached engine exactly."""
    conf_on = dataclasses.replace(TINY, round_budget=7)
    conf_off = dataclasses.replace(TINY, round_budget=7, head_multiple=0)
    s_on = _run(spark, tmp_path_factory.mktemp("bind_on"), conf_on)
    s_off = _run(spark, tmp_path_factory.mktemp("bind_off"), conf_off)
    assert tt.engine_fetch_sequence(s_on) == tt.engine_fetch_sequence(s_off)
    assert tt.engine_frontier_urls(s_on, ROUNDS) == tt.engine_frontier_urls(
        s_off, ROUNDS
    )


def test_recrawl_mode_disables_head(spark, tiny_fixtures, tmp_path_factory):
    """Recrawl's due predicate breaks static rank containment — the
    engine must not use (or record) a head there."""
    conf = dataclasses.replace(TINY, recrawl_interval_micros=150_000_000)
    _, store, _ = tt.engine_run(
        spark, "tiny", str(tmp_path_factory.mktemp("recrawl_nohead")),
        rounds=2, conf=conf,
    )
    assert store.read_manifest(2)["frontier"]["head"] is None
